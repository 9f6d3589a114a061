"""Scale points: the measured-regime runs behind BENCH/NOTES.md,
BENCH/BASELINE.md and the README "Dual paths" table. Each point is one
function holding its scenario; all of them share one scaffold: the
host-sized session, a warm-then-best-of-N timer, a noop sink, bench.py's
disk probe and codegen-fallback capture, and one JSON writer that keeps
the key layout of the committed BENCH/<file>.json history.

Usage: python BENCH/points.py <point>   (run alone: each point loads the
whole host). Points: sf1, dedup_scale, assembly_scale, compact_frontier,
cc_regimes, incremental_neardup, neardup_stream, compact_embedding,
verify_regimes, ann_768, streaming, hw_ceiling, scaling.

ann_768, hw_ceiling and scaling measure an N -> 4N core pair with
N = cpu_count // 4 and 4N = cpu_count, one JVM per level: the parent
re-runs this file as `points.py <point> <level> [<mode>]` with
SPARK_GRAFT_CPUS set to the level, so build_session sizes the child.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
import bench as B  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF01 = os.path.join(os.path.dirname(E.SF_SMOKE), "sf0.1")
DOCS_V = 1


class Point(NamedTuple):
    fn: Callable  # fn(spark) -> dict; per-level points: fn() -> dict | None
    out: str | None  # BENCH/<out> it writes
    footer: tuple = ()  # session keys appended to the result
    worker: Callable | None = None  # worker(spark, *mode) -> dict, one per level


POINTS: dict[str, Point] = {}
DISK = ("disk_mb_s_before", "disk_mb_s_after")
FULL = ("cpus", *DISK, "codegen_fallback")


def point(out: str | None, footer: tuple = (), worker: Callable | None = None):
    def register(fn):
        POINTS[fn.__name__] = Point(fn, out, footer, worker)
        return fn

    return register


# ---------------------------------------------------------------- scaffold


def session(name: str):
    from illumio_spark import session as S

    spark = S.build_session(app_name=name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def clock(fn) -> tuple[float, object]:
    t0 = time.time()
    value = fn()
    return round(time.time() - t0, 3), value


def best_of(fn, n: int = 2) -> float:
    """One warm pass, then the min of n: host noise (GC, page cache,
    neighbours) only ever slows a run down."""
    fn()
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def ratios(a: dict, b: dict) -> dict:
    """b/a for every timing key (`*_s`) of two arms."""
    return {k[:-2]: round(b[k] / a[k], 2) for k in a if k.endswith("_s") and a[k] > 0}


def levels() -> tuple[int, int]:
    n = os.cpu_count() or 1
    return max(n // 4, 1), n


def efficiency(sec: dict, lo: int, hi: int) -> float:
    """Speedup from lo to hi cores over the ideal hi/lo."""
    return round(sec[lo] / sec[hi] / (hi / lo), 3)


def per_level(name: str, *mode: str) -> dict[int, dict]:
    """Run `name`'s worker once per core level, each in its own JVM."""
    res = {}
    for lvl in levels():
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), name, str(lvl), *mode],
            env={**os.environ, "SPARK_GRAFT_CPUS": str(lvl)},
            stdout=subprocess.PIPE, text=True, cwd=ROOT, check=True,
        )
        res[lvl] = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    return res


def in_session(name: str, p: Point) -> dict:
    with B.StderrCapture() as cap:
        spark = session(name)
        disk0 = round(B.disk_probe_mb_s())
        result = p.fn(spark)
        disk1 = round(B.disk_probe_mb_s())
        cpus = spark.sparkContext.defaultParallelism
        spark.stop()
    common = {
        "cpus": cpus, "disk_mb_s": disk0, "disk_mb_s_before": disk0,
        "disk_mb_s_after": disk1, "codegen_fallback": cap.codegen_fallback(),
    }
    return {**result, **{k: common[k] for k in p.footer}}


def write(out: str, result: dict) -> None:
    path = os.path.join(ROOT, "BENCH", out)
    if out.endswith("_history.json"):  # append-only session log
        with open(path) as f:
            doc = json.load(f)
        doc["sessions"].append(result)
        result = doc
    with open(path, "w") as f:
        json.dump(result, f, indent=1)


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in POINTS:
        sys.exit(f"usage: points.py <point>; points: {', '.join(POINTS)}")
    name, *handoff = argv
    p = POINTS[name]
    if handoff:  # per-level child; the parent sized the session
        level, *mode = handoff
        spark = session(f"{name}-{level}")
        print(json.dumps(p.worker(spark, *mode)), flush=True)
        spark.stop()
        return
    result = p.fn() if p.worker else in_session(name, p)
    if result is not None:
        if p.out:
            write(p.out, result)
        print(json.dumps(result))


# ----------------------------------------------------------------- corpora


def docs_corpus(spark, mult: int):
    """sf0.1 documents x mult with injected duplicates, cached as parquet.

    Per replica r>0 every text gets a ' variant-r' suffix (unique content,
    so the dup GROUPS stay proportional instead of becoming mult-way);
    then doc_id%10000<50 rows duplicate exactly (+10M ids) and
    50<=doc_id%10000<80 rows near-duplicate with a trailing suffix
    (+20M ids) — mirroring catalog_td._dup_corpus/_neardup_corpus."""
    path = os.path.join(B.CACHE_DIR, f"documents_v{DOCS_V}_mult{mult}.parquet")
    if not os.path.exists(path):
        base = spark.read.parquet(f"{SF01}/documents.parquet").select("doc_id", "text")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        big = base.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 10_000).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", F.col("text"),
                                   F.concat(F.lit("variant-"), F.col("rep"))))
            .alias("text"),
        )
        key = F.col("doc_id") % 10_000
        dups = big.filter(key < 50).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        near = big.filter((key >= 50) & (key < 80)).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" trailing near dup suffix")).alias("text"),
        )
        big.unionByName(dups).unionByName(near).repartition(32).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def eval_docs(spark):
    return (
        spark.read.parquet(f"{SF01}/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "text")
    )


def dedup_suite(spark, corpus, eval_df):
    """(name -> zero-arg thunk -> DataFrame) for the dedup family,
    engine-default hashes. Thunks, not DataFrames: compaction's CC
    executes eagerly at CONSTRUCTION (per-round count() + checkpoints),
    so building it outside the caller's timer would bench a no-op
    traversal of the checkpointed labels."""
    from illumio_spark.operators import dedup as D

    return {
        "td_exact_dedup": lambda: D.exact_dedup_keepers(corpus).filter(
            F.col("n_copies") > 1
        ),
        "td_minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(
            corpus, hash_fn="xxhash64"
        ),
        "td_decontaminate": lambda: D.decontaminate(corpus, eval_df, k=13),
        # full-frontier compaction (star-edge CC from the band table)
        # at the 10x corpus — the O(history) maintenance job, in-driver
        "td_compact_frontier": lambda: D.compact_neardup_frontier(
            D.band_signatures(corpus, hash_fn="xxhash64")
        ),
    }


# ------------------------------------------------------------------ points


@point("sf1_point.json", footer=FULL)
def sf1(spark) -> dict:
    """~13 M turns through pipeline_e2e plus the dedup family at 10x the
    usual corpus, in the same session as the sf0.1 arm so the 10x
    scaling ratio is coherent (same disk, JIT state and configs)."""
    eval_df = eval_docs(spark)
    # warm the dedup plan shapes once so both timed arms are steady-state
    for thunk in dedup_suite(spark, docs_corpus(spark, 1), eval_df).values():
        noop(thunk())

    def arm(label: str, sf: float, mult: int) -> dict:
        corpus = docs_corpus(spark, mult)
        out: dict = {"label": label, "sf": sf, "n_docs": corpus.count()}
        elapsed, n_turns = B.bench_pipeline(spark, sf)  # 2 full warm runs inside
        out["pipeline_e2e_s"] = round(elapsed, 3)
        out["pipeline_turns"] = n_turns
        out["turns_per_sec"] = round(n_turns / elapsed, 1)
        for name, thunk in dedup_suite(spark, corpus, eval_df).items():
            out[name + "_s"], _ = clock(lambda: noop(thunk()))
        return out

    a, b = arm("sf0.1", 0.1, 1), arm("sf1.0", 1.0, 10)
    return {
        "metric": "sf1_scaling_point",
        "arms": [a, b],
        "data_ratio_turns": round(b["pipeline_turns"] / a["pipeline_turns"], 2),
        "data_ratio_docs": round(b["n_docs"] / a["n_docs"], 2),
        "time_ratios_sf1_over_sf01": ratios(a, b),
    }


VERBATIM_K = 20  # the corpus averages 54 tokens/doc: k=50 leaves most docs windowless
STOP_DF = 50  # drop windows shared by > 50 docs (replica groups are ~100)


@point("dedup_scale.json", footer=FULL)
def dedup_scale(spark) -> dict:
    """The headline dedup operators at 50.8 k vs 508 k documents, the
    first corpus where the LSH band shuffles and the verbatim M² fan-out
    dominate. At mult=100 every base-doc window is shared by ~100
    replicas — the boilerplate case the stop-shingle cap exists for — so
    verbatim runs both uncapped and capped."""
    from illumio_spark.operators import dedup as D

    eval_df = eval_docs(spark)

    def arm(mult: int) -> dict:
        corpus = docs_corpus(spark, mult)
        out: dict = {"mult": mult, "n_docs": corpus.count()}
        for name, build in {
            "td_minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(corpus, hash_fn="xxhash64"),
            "td_decontaminate": lambda: D.decontaminate(corpus, eval_df, k=13),
            "neardup_keepers": lambda: D.neardup_keepers(corpus, hash_fn="xxhash64"),
            "verbatim_uncapped": lambda: D.verbatim_overlap_pairs(corpus, k=VERBATIM_K),
            "verbatim_stopshingle": lambda: D.verbatim_overlap_pairs(
                corpus, k=VERBATIM_K, max_doc_freq=STOP_DF
            ),
        }.items():
            # full compute; the row count doubles as the fan-out probe
            out[name + "_s"], out[name + "_rows"] = clock(lambda: build().count())
        return out

    arm(1)  # warm every plan shape
    a, b = arm(10), arm(100)
    return {
        "metric": "dedup_scale_point",
        "arms": [a, b],
        "data_ratio_docs": round(b["n_docs"] / a["n_docs"], 2),
        "time_ratios_508k_over_50k": ratios(a, b),
        "verbatim_k": VERBATIM_K,
        "stop_doc_freq": STOP_DF,
    }


SEQ_LEN = 2048
N_STRATA = 20


@point("assembly_scale.json", footer=DISK)
def assembly_scale(spark) -> dict:
    """Corpus-assembly operators at 5.08 k vs 508 k documents. All should
    be ~linear: none shuffles more than once, the map-only ones not at
    all; the sharded write is the one real shuffle, measured with its
    parquet write and checked for files per shard and sort order."""
    import pyarrow.parquet as pq

    from illumio_spark.operators.curation import (
        apply_mixture,
        chunk_documents,
        mixture_weights,
        pack_chunks,
        pack_stats,
        select_token_budget,
        select_top_frac,
        shuffle_shards,
    )

    def arm(mult: int) -> dict:
        # a stable 20-way stratum in place of the sf tables' source column
        corpus = docs_corpus(spark, mult).withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % N_STRATA)).cast("string")
        )
        out: dict = {"mult": mult, "n_docs": corpus.count()}
        out["pack_chunks_s"], out["pack_chunks_rows"] = clock(
            lambda: pack_chunks(corpus, SEQ_LEN).count()
        )
        out["pack_stats_s"], stats = clock(
            lambda: pack_stats(pack_chunks(corpus, SEQ_LEN), SEQ_LEN).collect()
        )
        out["pack_stats_rows"] = len(stats)
        out["total_packs"] = int(sum(r.n_packs for r in stats))
        out["fill_frac_min"] = round(min(r.fill_frac for r in stats), 4)
        out["mixture_weights_s"], mix = clock(lambda: mixture_weights(
            corpus, {f"src{i}": 1.0 for i in range(0, N_STRATA, 2)}
        ).collect())
        out["mixture_rows"] = len(mix)

        weights = {f"src{i}": (i % 4) * 0.75 for i in range(N_STRATA)}
        out["apply_mixture_s"], out["apply_mixture_rows"] = clock(
            lambda: apply_mixture(corpus, weights).count()
        )
        out["token_budget_s"], out["token_budget_rows"] = clock(
            lambda: select_token_budget(corpus, 50_000).count()
        )
        # 16-token windows so the ~56-token docs really multi-chunk
        # (~4-5x row fan-out); at 256 every doc is one chunk
        out["chunk_s"], out["chunk_rows"] = clock(
            lambda: chunk_documents(corpus, 16, overlap=4).count()
        )
        scored = corpus.withColumn("n_chars", F.length("text"))
        out["top_frac_s"], out["top_frac_rows"] = clock(
            lambda: select_top_frac(scored, 0.3, "n_chars").count()
        )
        out["shuffle_shards_s"], r = clock(lambda: shuffle_shards(
            corpus.select("source", "doc_id"), 1024
        ).agg(F.countDistinct("shard").alias("n_shards"), F.max("sort_key")).first())
        out["shuffle_shards_n"] = int(r.n_shards)

        # the CLI --shards materialization: repartition(n, shard) →
        # sortWithinPartitions → partitionBy write
        n_shards = 64
        outdir = tempfile.mkdtemp(prefix=f"shardwrite_m{mult}_")
        out["sharded_write_s"], _ = clock(lambda: (
            shuffle_shards(corpus, n_shards, key_cols=("source", "doc_id"))
            .repartition(n_shards, "shard")
            .sortWithinPartitions("shard", "sort_key")
            .write.mode("overwrite").partitionBy("shard").parquet(outdir)
        ))
        shard_dirs = glob.glob(outdir + "/shard=*")
        parts = glob.glob(outdir + "/shard=*/*.parquet")
        out["sharded_write_shards"] = len(shard_dirs)
        out["sharded_write_files_per_shard"] = round(len(parts) / len(shard_dirs), 2)
        out["sharded_write_unsorted_files"] = sum(
            keys != sorted(keys)
            for keys in (
                pq.read_table(p, columns=["sort_key"])["sort_key"].to_pylist()
                for p in parts[:n_shards]
            )
        )
        out["sharded_write_rows"] = spark.read.parquet(outdir).count()
        shutil.rmtree(outdir)
        return out

    a, b = arm(1), arm(100)
    return {
        "metric": "assembly_scale",
        "seq_len": SEQ_LEN,
        "arms": [a, b],
        "time_ratio": ratios(a, b),
        "docs_ratio": round(b["n_docs"] / a["n_docs"], 2),
    }


@point("compact_frontier.json", footer=("cpus", *DISK))
def compact_frontier(spark) -> dict:
    """Frontier compaction (compact_neardup_frontier) at 50.8 k and 508 k
    documents: full CC over the persisted band table, no text re-read.
    The band table and emitted keepers are prior runs' state, untimed;
    the timed job reads them, runs CC and counts canonical and retraction
    rows — the O(history) job whose cadence amortizes against the
    O(batch) incremental path. Both arms fall under DRIVER_CC_MAX_EDGES
    band rows, so they are labelled on the driver; the 508 k arm is timed
    again with the cap at -1 (star edges and star contraction). The last
    arm is a seeded band table of exactly DRIVER_CC_MAX_EDGES rows (one
    doc in ten shares a bucket per band). `driver_py_peak_mb` is the
    driver process's RSS high-water mark after each arm: the driver arms
    ascend in band rows, so it is that arm's peak, and the star-edge arm
    carries the 508 k driver arm's mark."""
    import resource

    from illumio_spark.operators import dedup as D

    shipped = D.DRIVER_CC_MAX_EDGES

    def timed(out: dict, bands, emitted, cap: int) -> dict:
        def compact():
            canonical, retractions = D.compact_neardup_frontier(bands, emitted)
            out["canonical_rows"] = canonical.count()
            out["retraction_rows"] = retractions.count()

        D.DRIVER_CC_MAX_EDGES = cap
        try:
            out["compact_s"], _ = clock(compact)
        finally:
            D.DRIVER_CC_MAX_EDGES = shipped
        out["frontier_band_rows"] = bands.count()
        out["regime"] = "driver" if out["frontier_band_rows"] <= cap else "star_edges"
        out["driver_py_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        return out

    def prepared(mult: int) -> tuple[dict, object, object]:
        corpus = docs_corpus(spark, mult)
        bands_dir = tempfile.mkdtemp(prefix=f"compact_bands_m{mult}_")
        emitted_dir = tempfile.mkdtemp(prefix=f"compact_emitted_m{mult}_")
        D.band_signatures(corpus).write.mode("overwrite").parquet(bands_dir)
        D.neardup_keepers(corpus, hash_fn="xxhash64").select(
            "doc_id"
        ).write.mode("overwrite").parquet(emitted_dir)
        out = {"mult": mult, "n_docs": corpus.count()}
        return out, spark.read.parquet(bands_dir), spark.read.parquet(emitted_dir)

    def at_cap() -> dict:
        bands_dir = tempfile.mkdtemp(prefix="compact_bands_cap_")
        n_docs = shipped // 4
        ids = spark.range(n_docs).select(F.col("id").alias("doc_id"))
        band = spark.range(4).select(F.col("id").alias("__b"))
        shared = F.pmod(F.xxhash64("doc_id", "__b"), F.lit(10)) == 0
        base = F.when(shared, F.col("doc_id") - F.pmod("doc_id", F.lit(4))).otherwise(
            F.col("doc_id")
        )
        ids.crossJoin(band).select(
            "doc_id",
            F.concat(F.lit("band"), F.col("__b")).alias("band_idx"),
            F.xxhash64(base, "__b").alias("band_key"),
        ).write.mode("overwrite").parquet(bands_dir)
        emitted = spark.range(0, n_docs, 100).select(F.col("id").alias("doc_id"))
        out = timed({"n_docs": n_docs}, spark.read.parquet(bands_dir), emitted, shipped)
        shutil.rmtree(bands_dir, ignore_errors=True)
        return out

    timed(*prepared(1), shipped)  # warm every plan shape
    a = timed(*prepared(10), shipped)
    out, bands, emitted = prepared(100)
    b = timed(out, bands, emitted, shipped)
    forced = timed(dict(out), bands, emitted, -1)
    return {
        "metric": "compact_frontier_scale",
        "driver_cc_max_edges": shipped,
        "arms": [a, b, forced, at_cap()],
        "data_ratio": round(b["n_docs"] / a["n_docs"], 2),
        "time_ratio_508k_over_50k": ratios(a, b)["compact"],
        "star_edges_over_driver_508k": round(forced["compact_s"] / b["compact_s"], 2),
    }


CC_EDGES = (1_000_000, 4_000_000, 8_000_000)


@point("cc_regimes.json", footer=("cpus",))
def cc_regimes(spark) -> dict:
    """neardup_components in both regimes, driver finish (one Arrow
    collect + numpy) and distributed star contraction, on seeded
    clustered graphs straddling DRIVER_CC_MAX_EDGES: n edges drawn
    inside n/16 clusters of 16 ids (the near-dup shape: many small
    components). Each regime is forced by setting the bound; `default`
    names the regime the shipped bound picks. The edge table is written
    to parquet first (untimed); the timed job reads it, labels every id
    and counts the components. `driver_py_peak_mb` is the driver
    process's RSS high-water mark after the driver arm (sizes ascend, so
    it is that arm's peak)."""
    import resource

    from illumio_spark.operators import dedup as D

    shipped = D.DRIVER_CC_MAX_EDGES

    def arm(n: int) -> dict:
        edges_dir = tempfile.mkdtemp(prefix=f"cc_regimes_{n}_")
        cluster = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n // 16)) * 16
        spark.range(n).select(
            (cluster + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(16))).alias("id_a"),
            (cluster + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(16))).alias("id_b"),
        ).write.mode("overwrite").parquet(edges_dir)
        nodes = spark.range(n).withColumnRenamed("id", "doc_id")
        out: dict = {"edges": n, "default": "driver" if n <= shipped else "distributed"}
        try:
            for regime, bound in (("distributed", -1), ("driver", n)):
                D.DRIVER_CC_MAX_EDGES = bound
                out[f"{regime}_s"], out[f"{regime}_components"] = clock(
                    lambda: D.neardup_components(nodes, spark.read.parquet(edges_dir))
                    .select(F.countDistinct("component")).first()[0]
                )
        finally:
            D.DRIVER_CC_MAX_EDGES = shipped
        out["driver_py_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        shutil.rmtree(edges_dir, ignore_errors=True)
        return out

    arm(100_000)  # warm every plan shape
    arms = [arm(n) for n in CC_EDGES]
    return {
        "metric": "cc_regimes",
        "driver_cc_max_edges": shipped,
        "arms": arms,
        "distributed_over_driver": [
            round(a["distributed_s"] / a["driver_s"], 1) for a in arms
        ],
    }


@point("incremental_neardup.json", footer=FULL)
def incremental_neardup(spark) -> dict:
    """incremental_neardup at 50.8 k and 508 k documents, each batch
    deduplicated against a signature frontier holding half the corpus —
    the rolling-corpus shape (new-vs-all band join, CC on the induced
    subgraph). Frontier prep is untimed prior state; the new_bands
    materialization is timed, since a real run must produce it."""
    from illumio_spark.operators import dedup as D

    def arm(mult: int) -> dict:
        corpus = docs_corpus(spark, mult)
        # seen = the first half of the replica id space; new = the rest
        # plus every injected dup/near-dup (+10M/+20M ids), so the batch
        # has within-batch groups AND near-dups of frontier content
        cut = 10_000 * mult // 2
        seen = corpus.filter(F.col("doc_id") < cut)
        new = corpus.filter(F.col("doc_id") >= cut)
        frontier_dir = tempfile.mkdtemp(prefix=f"neardup_frontier_m{mult}_")
        D.band_signatures(seen).write.mode("overwrite").parquet(frontier_dir)

        out: dict = {"mult": mult, "n_new": new.count(), "n_seen": seen.count()}
        seen_bands = spark.read.parquet(frontier_dir)
        out["incremental_neardup_s"], out["kept_rows"] = clock(
            lambda: D.incremental_neardup(new, seen_bands)[0].count()
        )
        out["frontier_band_rows"] = seen_bands.count()
        return out

    arm(1)  # warm every plan shape
    a, b = arm(10), arm(100)
    return {
        "metric": "incremental_neardup_scale",
        "arms": [a, b],
        "data_ratio_new": round(b["n_new"] / a["n_new"], 2),
        "time_ratio_508k_over_50k": ratios(a, b)["incremental_neardup"],
    }


N_BATCHES = 4


@point("neardup_stream_point.json", footer=("cpus", "disk_mb_s"))
def neardup_stream(spark) -> dict:
    """neardup_stream over the 50.8 k-doc corpus split into 4 mtime-ordered
    micro-batches: batch 1 sees an empty frontier, batch 4 a 3/4-corpus
    one. Reported next to the one-shot neardup_keepers cost over the same
    corpus (what a non-incremental rerun pays; best of 2 after a warm
    run, with its kept rows counted in a separate call)."""
    from illumio_spark.operators.dedup import neardup_keepers
    from illumio_spark.streaming.stateful import neardup_stream as stream_fn

    corpus = docs_corpus(spark, 10)
    n_docs = corpus.count()

    # one file per micro-batch, mtime-sequenced so the file source
    # delivers them in id order (ids grow across batches: 'seen wins'
    # == combined-run semantics)
    src = tempfile.mkdtemp(prefix="neardup_stream_src_")
    per = n_docs // N_BATCHES
    ids = [r.doc_id for r in corpus.select("doc_id").orderBy("doc_id").collect()]
    bounds = [ids[i * per] for i in range(N_BATCHES)] + [ids[-1] + 1]
    now = time.time()
    for i in range(N_BATCHES):
        d = os.path.join(src, f"b{i}")
        corpus.filter(
            (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
        ).coalesce(1).write.parquet(d)
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.move(glob.glob(d + "/part-*.parquet")[0], dst)
        shutil.rmtree(d)
        os.utime(dst, (now - 40 + 10 * i, now - 40 + 10 * i))

    base = tempfile.mkdtemp(prefix="neardup_stream_")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_s, _ = clock(lambda: stream_fn(
        stream, f"{base}/frontier", f"{base}/out", f"{base}/ckpt"
    ).awaitTermination(1800))
    # the non-incremental alternative: rerun the whole corpus every time
    batch_s = round(best_of(lambda: neardup_keepers(corpus, hash_fn="xxhash64").count()), 3)
    batch_kept = neardup_keepers(corpus, hash_fn="xxhash64").count()
    return {
        "metric": "neardup_stream_point",
        "n_docs": n_docs,
        "micro_batches": N_BATCHES,
        "stream_s": stream_s,
        "stream_docs_per_sec": round(n_docs / stream_s, 1),
        "kept_rows": spark.read.parquet(f"{base}/out").count(),
        "frontier_band_rows": spark.read.parquet(f"{base}/frontier").count(),
        "batch_full_rerun_s": batch_s,
        "batch_kept_rows": batch_kept,
    }


DIM = 64
THRESHOLD = 0.9
# 10 planes → 1024 buckets/table: ~20 members per bucket at 20k, ~200 at
# 200k vectors — multi-member buckets without the quadratic self-join of
# a 16-bucket table.
N_PLANES = 10


def synth_vectors(spark, n: int):
    """Distributed deterministic synth (a driver createDataFrame of 200k
    vector rows measured minutes of pickle time): each row's vector is
    seeded by its id. The first 10% sit in planted clusters of 5 (the
    cluster's base plus per-id noise, cosine ~0.97); the rest are i.i.d.
    unit vectors."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n_clustered = (n // 10) // 5 * 5

    def unit(seed: int):
        return np.random.Generator(np.random.PCG64(seed)).standard_normal(DIM)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid in map(int, pdf["id"]):
                if vid < n_clustered:
                    base = unit(100_000 + vid // 5)
                    # noise norm ~0.15: member-to-member cosine ~0.978
                    v = base / np.linalg.norm(base) + (0.15 / np.sqrt(DIM)) * unit(200_000 + vid)
                else:
                    v = unit(300_000 + vid)
                out.append(v / np.linalg.norm(v))
            yield pd.DataFrame({"vec_id": pdf["id"], "embedding": out})

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    return spark.range(n).mapInPandas(gen, schema=schema)


@point("compact_embedding.json", footer=("cpus", *DISK))
def compact_embedding(spark) -> dict:
    """Embedding-frontier compaction at 20 k and 200 k vectors (dim 64),
    the similarity twin of compact_frontier. The bucket and vector tables
    from one incremental_embedding_neardup run are untimed prep; the
    timed pass reads them, self-joins buckets, verifies exact cosine,
    runs CC and counts canonical and retraction rows."""
    from illumio_spark.operators import similarity as SIM

    def arm(n: int) -> dict:
        df = synth_vectors(spark, n).localCheckpoint(eager=True)
        kept, bk, vc = SIM.incremental_embedding_neardup(
            df, None, None, threshold=THRESHOLD, n_planes=N_PLANES, dim=DIM, n_tables=3
        )
        base = tempfile.mkdtemp(prefix=f"compact_emb_m{n}_")
        bk.write.mode("overwrite").parquet(f"{base}/buckets")
        vc.write.mode("overwrite").parquet(f"{base}/vecs")
        kept.select("vec_id").write.mode("overwrite").parquet(f"{base}/emitted")

        out: dict = {"n_vecs": n}
        buckets = spark.read.parquet(f"{base}/buckets")

        def compact():
            canonical, retractions = SIM.compact_embedding_frontier(
                buckets, spark.read.parquet(f"{base}/vecs"),
                spark.read.parquet(f"{base}/emitted"), threshold=THRESHOLD,
            )
            out["canonical_rows"] = canonical.count()
            out["retraction_rows"] = retractions.count()

        out["compact_s"], _ = clock(compact)
        out["bucket_rows"] = buckets.count()
        return out

    arm(2000)  # warm every plan shape
    a, b = arm(20_000), arm(200_000)
    return {
        "metric": "compact_embedding_scale",
        "arms": [a, b],
        "data_ratio": round(b["n_vecs"] / a["n_vecs"], 2),
        "time_ratio_200k_over_20k": ratios(a, b)["compact"],
        "dim": DIM,
        "threshold": THRESHOLD,
    }


# (planes, vector counts): 16 buckets per table crowd every bucket (the
# matmul side), 1,024 leave a few pairs per bucket until ~10 k vectors
VERIFY_ARMS = ((4, (1_000, 2_000, 5_000)), (10, (2_000, 5_000, 10_000, 20_000, 100_000)))


@point("verify_regimes.json", footer=("cpus",))
def verify_regimes(spark) -> dict:
    """lsh_neardup_pairs in both verify regimes of bucket_verified_pairs,
    the (tbl, bucket) id join and the per-bucket blocked matmul, on
    synth_vectors (dim 64, 3 tables, threshold 0.9) bucketed 16 and
    1,024 ways per table, and on bench.py's td_embedding_neardup corpus
    at sf0.1 (256 buckets × 9 tables). Each regime is forced by setting
    MATMUL_MIN_PAIRS_PER_BUCKET; `default` names the regime the shipped
    bound picks (whether its plan holds the pandas group), and
    `pairs_per_bucket` is the occupancy it picks from: Σ M(M−1)/2 over
    the non-empty (tbl, bucket) groups, per group. The corpus is
    checkpointed first (untimed); each regime's time is the best of 2
    `count()` runs, regimes alternated, after one warm arm."""
    from illumio_spark.operators import similarity as SIM
    from illumio_spark.queries.catalog_td import embedding_neardup_corpus

    shipped = SIM.MATMUL_MIN_PAIRS_PER_BUCKET
    forced = (("join", float("inf")), ("matmul", -1))

    def arm(df, n_planes: int, n_tables: int = 3, **label) -> dict:
        df = df.localCheckpoint(eager=True)

        def pairs():
            return SIM.lsh_neardup_pairs(
                df, "vec_id", "v", threshold=THRESHOLD,
                n_planes=n_planes, dim=DIM, n_tables=n_tables,
            )

        m = F.col("count")
        n_buckets, n_cand = (
            SIM._bucketed_long(df, "vec_id", "v", n_planes, DIM, n_tables)
            .groupBy("tbl", "bucket").count()
            .agg(F.count("*"), F.sum(m * (m - 1) / 2)).first()
        )
        plan = pairs()._jdf.queryExecution().optimizedPlan().toString()
        out: dict = {
            **label, "buckets_per_table": 1 << n_planes, "n_tables": n_tables,
            "vectors": df.count(), "pairs_per_bucket": round(n_cand / n_buckets, 1),
            "default": "matmul" if "FlatMapGroupsInPandas" in plan else "join",
        }
        try:
            for _ in range(2):
                for regime, bound in forced:
                    SIM.MATMUL_MIN_PAIRS_PER_BUCKET = bound
                    t, out[f"{regime}_pairs"] = clock(lambda: pairs().count())
                    out[f"{regime}_s"] = min(t, out.get(f"{regime}_s", t))
        finally:
            SIM.MATMUL_MIN_PAIRS_PER_BUCKET = shipped
        out["faster"] = "matmul" if out["matmul_s"] < out["join_s"] else "join"
        return out

    def synth(n: int):
        return synth_vectors(spark, n).withColumnRenamed("embedding", "v")

    arm(synth(500), 4)  # warm every plan shape
    arms = [arm(synth(n), planes) for planes, sizes in VERIFY_ARMS for n in sizes]
    # the join-side workload: bench.py's td_embedding_neardup row
    arms.append(arm(embedding_neardup_corpus(spark, SF01), 8, 9,
                    corpus="td_embedding_neardup sf0.1"))
    return {
        "metric": "verify_regimes",
        "matmul_min_pairs_per_bucket": shipped,
        "dim": DIM,
        "threshold": THRESHOLD,
        "arms": arms,
        "join_over_matmul": [round(a["join_s"] / a["matmul_s"], 2) for a in arms],
    }


ANN_N, ANN_DIM, ANN_QUERIES, ANN_PLANES = 20_000, 768, 20, 12


def _ann_level(spark) -> dict:
    import numpy as np

    from illumio_spark.operators import similarity as SIM

    parts = max(spark.sparkContext.defaultParallelism, 8)
    rng = np.random.Generator(np.random.PCG64(1234))
    mat = rng.standard_normal((ANN_N, ANN_DIM))
    # plant true neighbours: at dim=768 random vectors concentrate at
    # cos≈0±1/sqrt(dim), so pure-random data has no meaningful nearest
    # neighbours; each query gets 10 at cos≈0.9 and recall@10 finds them
    for qi in range(ANN_QUERIES):
        for j in range(10):
            mat[ANN_QUERIES + qi * 10 + j] = mat[qi] + 0.5 * rng.standard_normal(ANN_DIM)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(ANN_N)], "vec_id long, embedding array<double>"
    ).repartition(parts)
    noop(emb)  # materialize the input cost once
    qs = emb.filter(f"vec_id < {ANN_QUERIES}").selectExpr("vec_id as qid", "embedding as qe")

    lsh = dict(k=10, n_planes=ANN_PLANES, dim=ANN_DIM, n_tables=8)
    ivf = dict(k=10, n_centroids=64, n_probe=8)
    runs = {
        "lsh_topk_768": SIM.lsh_topk(emb, qs, **lsh),
        "ivf_topk_768": SIM.ivf_topk(emb, qs, **ivf),
        "brute_force_768": SIM.brute_force_topk(emb, qs, k=10),
    }
    out: dict = {"cpus": spark.sparkContext.defaultParallelism, "n": ANN_N, "dim": ANN_DIM}
    for name, df in runs.items():
        out[name] = round(best_of(lambda: noop(df)), 3)
    # recall@10 of each approximate path vs exact brute force
    truth = {(r.qid, r.neighbor_id) for r in runs["brute_force_768"].collect()}
    for name in ("lsh", "ivf"):
        approx = {(r.qid, r.neighbor_id) for r in runs[f"{name}_topk_768"].collect()}
        out[f"recall_{name}"] = round(len(truth & approx) / len(truth), 3)
    return out


@point(None, worker=_ann_level)
def ann_768() -> None:
    """lsh_topk / ivf_topk at dim=768, where bucket assignment runs one
    numpy matmul per Arrow batch (lsh_buckets_pandas_multi), against
    brute-force cosine as the wall-clock reference. Prints one JSON line
    per core level."""
    for res in per_level("ann_768").values():
        print(json.dumps(res))


def _run_stream(spark, make_df, input_dir: str, label: str,
                max_files: int | None = None) -> dict:
    """Time one availableNow pass into an append-mode parquet sink.
    max_files forces multiple micro-batches (state expiry only runs at
    batch boundaries)."""
    from illumio_spark.streaming.stream_pipeline import read_transcript_stream

    out = tempfile.mkdtemp(prefix=f"stream_{label}_")
    try:
        stream = read_transcript_stream(spark, input_dir, max_files_per_trigger=max_files)
        t0 = time.time()
        q = (
            make_df(stream).writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", out + "_ckpt").trigger(availableNow=True).start()
        )
        q.awaitTermination(1800)
        elapsed = time.time() - t0
        rows_out = spark.read.parquet(out).count()
        ops = [so for p in q.recentProgress for so in p.get("stateOperators", []) or []]
        return {
            "elapsed_s": round(elapsed, 3),
            "rows_out": rows_out,
            "micro_batches": len(q.recentProgress),
            "state_rows_max": max((so.get("numRowsTotal", 0) for so in ops), default=0),
            "state_rows_expired": sum(so.get("numRowsRemoved", 0) or 0 for so in ops),
            "late_rows_dropped": sum(so.get("numRowsDroppedByWatermark", 0) or 0 for so in ops),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + "_ckpt", ignore_errors=True)


def _timeordered_input(spark, input_dir: str, n_slices: int = 16) -> str:
    """Event-time-ordered copy of the corpus: range-partitioned on ts
    into contiguous files, mtimes in slice order so the file source
    admits them oldest-first — the arrival pattern under which a
    watermark inside the corpus's span keeps state bounded without
    dropping on-time rows as late."""
    out = os.path.join(B.CACHE_DIR, os.path.basename(input_dir) + ".timeordered")
    if not os.path.exists(out):
        spark.read.parquet(input_dir).repartitionByRange(n_slices, "ts").write.mode(
            "overwrite"
        ).parquet(out)
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".parquet"))
    now = time.time()
    for i, f in enumerate(parts):  # oldest time range ↦ oldest mtime
        os.utime(os.path.join(out, f), (now - len(parts) + i, now - len(parts) + i))
    return out


@point("streaming_point.json", footer=("cpus", "disk_mb_s"))
def streaming(spark) -> dict:
    """dedup_stream and sessionize_stream throughput via availableNow over
    the cached sf0.1 transcript corpus, next to the equivalent batch
    plans in the same session, with state-store row counts from the
    query progress."""
    from illumio_spark.streaming.stateful import dedup_stream, sessionize_batch, sessionize_stream

    input_dir, n_turns = B.transcripts_path(spark, 0.1)
    batch_df = spark.read.parquet(input_dir)
    result: dict = {"metric": "streaming_throughput", "n_turns": n_turns}

    # batch comparators first (also the JIT warm for the shared plans)
    result["dedup_batch_s"], _ = clock(lambda: noop(batch_df.dropDuplicates(["conv_id", "turn_idx"])))
    result["sessionize_batch_s"], _ = clock(lambda: noop(sessionize_batch(batch_df)))

    r = _run_stream(spark, lambda s: dedup_stream(s, watermark="96 hours"), input_dir, "dedup")
    result["dedup_stream"] = r
    result["dedup_stream_rows_per_sec"] = round(n_turns / r["elapsed_s"], 1)

    # bounded-state arm: a watermark that expires INSIDE the corpus's
    # event-time span, fed in event-time order across micro-batches so
    # expiry runs between batches: max state rows << input rows, zero
    # on-time rows lost (the 96 h arm above keeps every key)
    r = _run_stream(
        spark, lambda s: dedup_stream(s, watermark="30 minutes"),
        _timeordered_input(spark, input_dir), "dedup_bounded", max_files=2,
    )
    result["dedup_stream_bounded"] = r
    result["dedup_bounded_rows_per_sec"] = round(n_turns / r["elapsed_s"], 1)
    result["dedup_bounded_state_frac"] = round(r["state_rows_max"] / n_turns, 4)

    # session_window sessionizer; keys keep their r5-r8 "native" names
    r = _run_stream(
        spark, lambda s: sessionize_stream(s, watermark="96 hours", gap="96 hours"),
        input_dir, "sessionize_native",
    )
    result["sessionize_stream_native"] = r
    result["sessionize_native_rows_per_sec"] = round(n_turns / r["elapsed_s"], 1)
    return result


def _hw_level(spark) -> dict:
    n = spark.sparkContext.defaultParallelism

    def alu():
        h = F.col("id")
        for _ in range(6):
            h = F.xxhash64(h)
        spark.range(8_000_000_000, numPartitions=n * 4).select(
            F.count(F.when(h % 1000 == 0, 1))
        ).collect()

    def str_mem():
        s = F.concat(F.lpad(F.col("id").cast("string"), 20, "x"), F.lit("y" * 180))
        spark.range(60_000_000, numPartitions=n * 4).select(
            F.count(F.when(F.length(F.md5(s)) > 10, 1))
        ).collect()

    return {"cpus": n, "alu_sec": round(best_of(alu), 2), "str_sec": round(best_of(str_mem), 2)}


@point("hw_ceiling.json", worker=_hw_level)
def hw_ceiling() -> dict:
    """This host's own N→4N ceilings from two plan-free single-stage
    micro-workloads: `alu`, a codegen xxhash64 chain over spark.range (no
    allocation, shuffle or IO: any shortfall from 1.0 is the host), and
    `str`, md5 over 200-char strings (the allocation/GC/memory-bandwidth
    profile of a string-heavy pipeline). A pipeline efficiency at or
    above `str` means the plan adds no scaling overhead of its own."""
    res = per_level("hw_ceiling")
    lo, hi = levels()
    sec = {k: {c: r[k] for c, r in res.items()} for k in ("alu_sec", "str_sec")}
    return {
        "metric": "hw_scaling_ceiling",
        "note": "best of 2 after one warm pass per level",
        "levels": res,
        "pairs": [{
            "n": lo, "n4": hi,
            "alu_efficiency": efficiency(sec["alu_sec"], lo, hi),
            "str_efficiency": efficiency(sec["str_sec"], lo, hi),
        }],
    }


SCALING_CONV = 300_000


def _scaling_level(spark, mode: str) -> dict:
    from illumio_spark.plans.pipeline import (
        fanout_frame,
        ordered_for_sink,
        parse_enrich_format,
        run_pipeline,
    )
    from illumio_spark.sources.tableio import TableIO

    n = spark.sparkContext.defaultParallelism
    path, n_turns = B.transcripts_path(spark, SCALING_CONV / B.CONV_PER_SF)
    df = spark.read.parquet(path)

    def one_pass() -> None:
        if mode == "e2e":
            out = tempfile.mkdtemp(prefix=f"scal{n}_")
            run_pipeline(spark, df, io=TableIO(out), run_id="scal")
            shutil.rmtree(out, ignore_errors=True)
        else:  # compute: same plan, noop sink, no read-back
            noop(fanout_frame(parse_enrich_format(spark, ordered_for_sink(df, n * 4))))

    # low-core passes are long but stable
    return {"cpus": n, "mode": mode, "n_turns": n_turns, "sec": best_of(one_pass, 2 if n <= 4 else 3)}


@point("scaling_history.json", worker=_scaling_level)
def scaling() -> dict:
    """N vs 4N scaling efficiency of the pipeline on cached input, one
    JVM per level, in two modes: `e2e` is the full run_pipeline (sinks
    written, rollups, checkpoint read-back); `compute` is the same plan
    into a noop sink, which isolates the plan's scalability from the
    host's one shared disk (per-executor disks on a real cluster).
    Appends one session to scaling_history.json."""
    disk0 = round(B.disk_probe_mb_s())
    res = {m: per_level("scaling", m) for m in ("e2e", "compute")}
    disk1 = round(B.disk_probe_mb_s())
    lo, hi = levels()
    pairs = {
        m: [{"n": lo, "n4": hi, "efficiency": efficiency({c: r["sec"] for c, r in lv.items()}, lo, hi)}]
        for m, lv in res.items()
    }
    return {
        "metric": "scaling_efficiency",
        "n_turns": res["e2e"][lo]["n_turns"],
        "levels": {
            m: {str(c): {"sec": round(r["sec"], 2), "turns_per_sec": round(r["n_turns"] / r["sec"], 1)}
                for c, r in lv.items()}
            for m, lv in res.items()
        },
        "pairs": pairs,
        "target": 0.8,
        **{f"pass_{m}": any(p["efficiency"] >= 0.8 for p in ps) for m, ps in pairs.items()},
        "disk_mb_s": {"before": disk0, "after": disk1},
        "ts": time.time(),
    }


if __name__ == "__main__":
    main(sys.argv[1:])
