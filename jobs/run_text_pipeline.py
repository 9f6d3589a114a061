"""spark-submit entry point for the TRAINING-DATA hygiene pipeline —
the document-side counterpart of jobs/run_pipeline.py: it chains the
repo's dedup / decontamination / quality / PII operators into the
standard pre-training curation pass and writes the cleaned corpus plus
a per-stage attrition report.

Cluster launch (same --py-files packaging as the transcript pipeline):

    cd /root/repo && zip -r /tmp/illumio_spark.zip illumio_spark
    spark-submit --py-files /tmp/illumio_spark.zip \\
        jobs/run_text_pipeline.py \\
        --input  s3a://bucket/documents/          # parquet (doc_id, text, ...) \\
        --output s3a://bucket/cleaned/ \\
        --eval   s3a://bucket/eval_sets/          # optional: decontaminate vs these \\
        --near-dups                                # also drop minhash-LSH near-dups

Local smoke:

    python jobs/run_text_pipeline.py \\
        --input /root/testdata/sf0.001/documents.parquet --output /tmp/cleaned

Stages (each optional-out via flags, all DataFrame plans; each stage's
surviving frame is localCheckpoint-ed before its report count, so every
stage's joins execute exactly once — without the checkpoint, stage N's
count action re-executes stages 1..N-1, O(stages²) total work at scale):
  1. exact dedup       — md5 fingerprint, min-id keeper per group;
                         --seen PATH makes it CROSS-RUN (anti-join vs
                         the fingerprints of every prior run, frontier
                         appended after the output commits — the
                         processed-keys resume pattern)
  2. near-dup drop     — minhash-LSH band table (xxhash64 engine
                         mode) → connected components of its band
                         buckets (one driver labelling pass up to
                         DRIVER_CC_MAX_EDGES band rows, star edges
                         above), keep the min-id representative per
                         component; --seen-sigs PATH makes it CROSS-RUN
                         (band-join vs every prior run's signatures,
                         new-vs-all; frontier appended after the output
                         commits)
  2b. verbatim cut     — --cut-spans K: ExactSubstr spans excised from
                         the higher-id doc (Lee et al. remediation)
  3. decontamination   — GPT-3-style 13-gram overlap vs --eval corpus
  4. quality filter    — C4/Gopher c4_keep conjunction
  4b. top-frac select  — --top-frac F: keep the top F of each source by
                         corpus-trained bigram-LM score (FineWeb-style
                         score-threshold selection)
  5. token budget      — --token-budget N: greedy per-source selection
                         until each source's running token total reaches
                         N (fill-until-full; straddling doc kept)
  6. PII scrub         — emails/SSNs/IPv4s/phones redacted in place
  6b. split tag        — --splits JSON: deterministic train/val/test
                         label on every written row (assign_splits md5
                         hash fraction; map-only)
  7. assembly report   — --mix-targets / --pack-len: per-source mixture
                         weights and packing efficiency of the CLEANED
                         corpus (report-only, rows untouched)
  8. mix materialize   — --mix-output PATH: deterministically repeat /
                         downsample each source by its mixture weight
                         (apply_mixture, optionally capped --max-repeat)
                         and write the mixed corpus alongside the
                         cleaned one
  9. shard shuffle     — --shards N: write the mixed corpus as N
                         deterministically shuffled shard dirs
                         (shuffle_shards tag → repartition by shard →
                         sortWithinPartitions), the training-order
                         layout a data loader streams sequentially
  10. chunked output   — --chunk-output PATH --chunk-tokens N
                         [--chunk-overlap K]: sliding-window chunks of
                         the cleaned corpus (chunk_documents; map-only)

Maintenance mode (no stages run): --compact-sigs --seen-sigs PATH
--input <glob of prior cleaned outputs> --output DIR runs full CC over
the signature frontier (compact_neardup_frontier) and writes canonical/
and retractions/ — the periodic job that resolves the retroactive
bridge merges no incremental run can (see incremental_neardup).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from illumio_spark.functions import text as TX
    from illumio_spark.operators import dedup as D

    # maintenance mode: --compact-sigs resolves the retroactive bridge
    # merges the per-run frontier path cannot (incremental_neardup's
    # contract) — full CC over the signature frontier, writing canonical
    # keeper ids and retractions of previously-emitted docs. Run it
    # periodically between pipeline runs; spark.read of --input may glob
    # several prior runs' cleaned outputs (the emitted set).
    if getattr(args, "compact_sigs", False):
        sigs = getattr(args, "seen_sigs", None)
        if not sigs:
            raise SystemExit("--compact-sigs requires --seen-sigs PATH")
        bands = spark.read.parquet(sigs)
        emitted = spark.read.parquet(args.input).select("doc_id")
        canonical, retractions = D.compact_neardup_frontier(bands, emitted)
        canonical = canonical.localCheckpoint(eager=True)
        retractions = retractions.localCheckpoint(eager=True)
        canonical.write.mode("overwrite").parquet(f"{args.output}/canonical")
        retractions.write.mode("overwrite").parquet(
            f"{args.output}/retractions"
        )
        return {
            "compact": {
                "frontier_band_rows": bands.count(),
                "emitted_rows": emitted.count(),
                "canonical_rows": canonical.count(),
                "retraction_rows": retractions.count(),
            }
        }

    report: dict = {"stages": []}
    n_prev: list[int] = [0]

    def stage(name: str, df_out):
        # localCheckpoint materializes the surviving frame ONCE; its count
        # and every later stage then read materialized partitions instead
        # of re-executing stages 1..N-1's joins (VERDICT r5 task 2 — the
        # uncached version did O(stages²) work via the report actions).
        # On a cluster with unreliable executors, swap for
        # persist(StorageLevel.DISK_ONLY) + a terminal unpersist sweep:
        # same single-execution guarantee, recomputable on executor loss.
        df_out = df_out.localCheckpoint(eager=True)
        n_out = df_out.count()
        report["stages"].append(
            {"stage": name, "rows_in": n_prev[0], "rows_out": n_out,
             "dropped": n_prev[0] - n_out}
        )
        n_prev[0] = n_out
        return df_out

    docs = spark.read.parquet(args.input)
    if "doc_id" not in docs.columns or "text" not in docs.columns:
        raise SystemExit("input must have (doc_id, text) columns")
    n_prev[0] = docs.count()

    # 1. exact dedup. With --seen the stage is CROSS-RUN: anti-join
    #    against every fingerprint earlier runs recorded (the reference's
    #    processed-keys resume pattern), then the usual within-batch
    #    min-id keeper; this run's new fingerprints are appended to the
    #    seen table after the cleaned corpus commits.
    seen_path = getattr(args, "seen", None)
    if seen_path:
        from illumio_spark.sources.tableio import read_parquet_if_exists

        # None iff first run; any other read failure re-raises (r6 ADVICE)
        seen = read_parquet_if_exists(spark, seen_path)
        kept, _ = D.incremental_dedup(docs, seen)
        cur = stage("cross_run_dedup", kept)
        processed = cur  # frontier = everything this run PROCESSED, so
        # docs later dropped by quality/decontam don't reprocess forever
    else:
        keepers = D.exact_dedup_keepers(docs).select(
            F.col("keeper").alias("doc_id")
        )
        cur = stage("exact_dedup", docs.join(keepers, "doc_id", "left_semi"))

    # 2. near-dup drop (optional): LSH pairs → connected components →
    #    keep the min-id representative per component (transitivity-
    #    correct: a-b, b-c is ONE group even though (a,c) never paired).
    #    With --seen-sigs the stage is CROSS-RUN: this batch's band table
    #    joins against every prior run's signatures (new-vs-all, never
    #    all-vs-all), and docs near-duplicating previously-processed
    #    content drop; the batch's bands append after the output commits.
    sigs_path = getattr(args, "seen_sigs", None)
    pending_bands = None
    if args.near_dups and sigs_path:
        from illumio_spark.sources.tableio import read_parquet_if_exists

        seen_bands = read_parquet_if_exists(spark, sigs_path)
        kept, pending_bands, _ = D.incremental_neardup(
            cur, seen_bands, hash_fn="xxhash64"
        )
        cur = stage("cross_run_neardup", kept)
    elif args.near_dups:
        cur = stage("near_dup_drop", D.neardup_keepers(cur, hash_fn="xxhash64"))

    # 2b. verbatim span remediation (optional): locate shared k-token
    #     runs (ExactSubstr) and CUT them from the higher-id doc instead
    #     of dropping documents — fully-duplicated docs still drop
    cut_k = getattr(args, "cut_spans", 0) or 0
    if cut_k:
        spans = D.verbatim_overlap_spans(cur, k=cut_k)
        cur = stage(
            "verbatim_cut", D.cut_verbatim_spans(cur, spans, min_span_tokens=cut_k)
        )

    # 3. decontamination vs the eval corpus (optional)
    if args.eval:
        # decontaminate only reads the eval TEXT (it assigns its own ids),
        # so any parquet with a text column works as an eval set
        eval_df = spark.read.parquet(args.eval).select("text")
        cur = stage("decontaminate", D.decontaminate(cur, eval_df, k=args.ngram))

    # 4. C4/Gopher quality filter (thresholds are corpus-style knobs:
    #    a punctuation-free corpus needs --min-sentences 0)
    if args.quality != "off":
        keep_ids = (
            TX.c4_quality_signals(
                cur, min_sentences=args.min_sentences,
                min_alpha_frac=args.min_alpha_frac,
            )
            .filter(F.col("c4_keep"))
            .select("doc_id")
        )
        cur = stage("c4_quality", cur.join(keep_ids, "doc_id", "left_semi"))

    # 4b. top-frac quality selection (optional): score every surviving
    #     doc with the corpus-trained bigram LM (fluent in-distribution
    #     text scores high) and keep the top fraction of each source —
    #     the FineWeb/DCLM-style score-threshold selection, per-stratum
    #     so one high-scoring source can't crowd out the rest
    top_frac = getattr(args, "top_frac", 0.0) or 0.0
    if top_frac:
        from illumio_spark.operators.curation import select_top_frac

        if "source" not in cur.columns:
            raise SystemExit("--top-frac needs a source column")
        scored = cur.select("source", "doc_id").join(
            TX.bigram_lm_scores(cur), "doc_id"
        )
        picked = select_top_frac(
            scored, top_frac, "avg_log2_prob"
        ).select("doc_id")
        cur = stage("top_frac_quality", cur.join(picked, "doc_id", "left_semi"))

    # 5. per-source token budget (optional): greedy fill-until-full in
    #    doc_id order — caps every source's contribution so one huge
    #    source can't dominate the cleaned corpus
    budget = getattr(args, "token_budget", 0) or 0
    if budget:
        from illumio_spark.operators.curation import select_token_budget

        if "source" not in cur.columns:
            raise SystemExit("--token-budget needs a source column")
        picked = select_token_budget(cur, budget).select("doc_id")
        cur = stage("token_budget", cur.join(picked, "doc_id", "left_semi"))

    # 6. PII scrub in place (row count unchanged; report counts scrubbed)
    pii = TX.pii_counts(F.col("text"))
    hits = cur.agg(
        *[F.sum(c).alias(name) for name, c in pii.items()]
    ).first()
    report["pii_hits"] = {k: int(hits[k] or 0) for k in hits.asDict()}
    cleaned = cur.withColumn("text", TX.scrub_pii(F.col("text")))

    # 6b. split tag (optional): deterministic train/val/test label on the
    #     written corpus — md5 hash fraction, map-only, rides the write
    splits = getattr(args, "splits", None)
    if splits:
        from illumio_spark.operators.curation import assign_splits

        fr = json.loads(splits) if isinstance(splits, str) else splits
        if "source" not in cur.columns:
            raise SystemExit("--splits needs a source column")
        cleaned = assign_splits(cleaned, fr)

    t0 = time.time()
    cleaned.write.mode("overwrite").parquet(args.output)
    report["write_s"] = round(time.time() - t0, 3)

    out = spark.read.parquet(args.output)
    report["final_rows"] = out.count()

    # advance the cross-run frontier only after the cleaned corpus is
    # durably committed — a crash before this point leaves the seen
    # table unchanged and the whole batch reprocesses (idempotent on fp)
    if seen_path:
        new_fps = D.fingerprint_exact(
            processed, null_sentinel=True
        ).select("fp")
        new_fps.write.mode("append").parquet(seen_path)
        report["seen_fps_appended"] = new_fps.count()
    if pending_bands is not None:
        # same commit discipline as --seen: the signature frontier only
        # advances once the cleaned corpus is durable; a crash before
        # this point reprocesses the batch (idempotent on (id, band))
        pending_bands.write.mode("append").parquet(sigs_path)
        report["seen_bands_appended"] = pending_bands.count()
    tc = out.select(TX.token_count(F.col("text")).alias("n"))
    r = tc.agg(
        F.sum("n").alias("total_tokens"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
    ).first()
    report["tokens"] = {
        "total": int(r.total_tokens or 0),
        "p50": float(r.p50 or 0), "p99": float(r.p99 or 0),
    }
    if splits:
        report["splits"] = {
            r.split: int(r.n)
            for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    # 7. corpus-assembly report (optional): what the CLEANED corpus looks
    #    like as a training mixture — per-source token shares vs targets,
    #    and concat-and-chunk packing efficiency at the training seq_len
    mix_targets = getattr(args, "mix_targets", None)
    if mix_targets and "source" in out.columns:
        from illumio_spark.operators.curation import mixture_weights

        targets = (
            json.loads(mix_targets) if isinstance(mix_targets, str) else mix_targets
        )
        report["mixture"] = [
            row.asDict() for row in
            mixture_weights(out, targets).orderBy("source").collect()
        ]

    pack_len = getattr(args, "pack_len", 0) or 0
    if pack_len:
        from illumio_spark.operators.curation import pack_chunks, pack_stats

        stratum = "source" if "source" in out.columns else None
        packed = pack_chunks(out, pack_len, stratum_col=stratum)
        report["packing"] = [
            row.asDict() for row in
            pack_stats(packed, pack_len, stratum_col=stratum)
            .orderBy(stratum if stratum else F.lit(1)).collect()
        ]

    # 8. mixture materialization (optional): turn the reported weights
    #    into an actual mixed corpus — floor(w) whole epochs per source
    #    plus a deterministic md5-hash-selected residual fraction
    mix_output = getattr(args, "mix_output", None)
    if mix_output:
        from illumio_spark.operators.curation import apply_mixture

        if "mixture" not in report:
            raise SystemExit("--mix-output needs --mix-targets (and a source column)")
        cap = getattr(args, "max_repeat", 0) or 0
        weights = {
            m["source"]: (min(m["weight"], cap) if cap else m["weight"])
            for m in report["mixture"]
        }
        mixed = apply_mixture(out, weights)
        # 9. training-order shard shuffle (optional): tag each mixed row
        #    with a deterministic (shard, sort_key) and write one sorted
        #    shard per partition dir — the seedless global shuffle a
        #    trainer reads sequentially. copy_idx rides the hash key so
        #    repeated epochs of a doc scatter across shards.
        shards = getattr(args, "shards", 0) or 0
        if shards:
            from illumio_spark.operators.curation import shuffle_shards

            tagged = shuffle_shards(
                mixed, shards, key_cols=("source", "doc_id", "copy_idx")
            )
            (
                tagged.repartition(shards, "shard")
                .sortWithinPartitions("shard", "sort_key")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(mix_output)
            )
        else:
            mixed.write.mode("overwrite").parquet(mix_output)
        mixed_out = spark.read.parquet(mix_output)
        mr = mixed_out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(TX.token_count(F.col("text")).cast("bigint")).alias("tokens"),
        ).first()
        report["mixed"] = {"rows": int(mr.rows), "tokens": int(mr.tokens or 0)}
        if shards:
            report["mixed"]["shards"] = shards

    # 10. chunked output (optional): sliding-window chunks of the CLEANED
    #     corpus at the training/RAG window size — map-only, no shuffle
    chunk_out = getattr(args, "chunk_output", None)
    if chunk_out:
        from illumio_spark.operators.curation import chunk_documents

        n = getattr(args, "chunk_tokens", 0) or 0
        if n <= 0:
            raise SystemExit("--chunk-output needs --chunk-tokens N")
        ov = getattr(args, "chunk_overlap", 0) or 0
        chunk_documents(out, n, overlap=ov).write.mode("overwrite").parquet(
            chunk_out
        )
        cr = spark.read.parquet(chunk_out).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_chunk_tokens").alias("tokens"),
        ).first()
        report["chunks"] = {
            "rows": int(cr.rows), "tokens": int(cr.tokens or 0),
            "chunk_tokens": n, "overlap": ov,
        }

    return report


def _int_at_least(lo: int):
    """argparse type: an int >= lo, else a usage error."""

    def integer(text: str) -> int:
        v = int(text)
        if v < lo:
            raise argparse.ArgumentTypeError(f"must be >= {lo}, got {v}")
        return v

    return integer


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="cleaned-corpus output dir")
    ap.add_argument("--eval", help="eval-set parquet for decontamination")
    ap.add_argument("--seen", metavar="PATH",
                    help="cross-run fingerprint table: docs whose md5 text "
                         "fingerprint is already recorded here are dropped, "
                         "and this run's fingerprints are appended after the "
                         "output commits. NB the frontier records every doc "
                         "this run PROCESSED, not just survivors — a doc "
                         "dropped by quality/decontamination stays dropped "
                         "on later runs even if those thresholds change "
                         "(delete the seen table to re-evaluate old docs)")
    ap.add_argument("--ngram", type=_int_at_least(1), default=13,
                    help="decontamination shingle size (GPT-3 rule: 13)")
    ap.add_argument("--near-dups", action="store_true",
                    help="also drop minhash-LSH near-duplicates")
    ap.add_argument("--seen-sigs", metavar="PATH",
                    help="cross-run near-dup signature table (with "
                         "--near-dups): docs whose minhash-LSH bands "
                         "collide with any prior run's are dropped, and "
                         "this run's bands are appended after the output "
                         "commits. Like --seen, the frontier records every "
                         "PROCESSED doc, not just survivors")
    ap.add_argument("--compact-sigs", action="store_true",
                    help="maintenance mode: full CC over the --seen-sigs "
                         "frontier; --input = parquet (glob) of prior "
                         "runs' emitted docs; writes canonical ids and "
                         "retractions (emitted docs whose component got "
                         "a smaller keeper via a later bridge doc) under "
                         "--output, then exits — no pipeline stages run")
    ap.add_argument("--cut-spans", type=_int_at_least(0), default=0, metavar="K",
                    help="excise verbatim K-token spans from the higher-id "
                         "doc of each sharing pair (0 = off)")
    ap.add_argument("--quality", default="c4", choices=["c4", "off"],
                    help="page-quality filter stage (default C4/Gopher)")
    ap.add_argument("--min-sentences", type=int, default=3,
                    help="C4 sentence threshold (0 for punctuation-free corpora)")
    ap.add_argument("--min-alpha-frac", type=float, default=0.8,
                    help="Gopher alphabetic-word fraction threshold")
    ap.add_argument("--top-frac", type=float, default=0.0, metavar="F",
                    help="keep only the top F (0,1] of each source by "
                         "corpus-trained bigram-LM score (0 = off)")
    ap.add_argument("--mix-targets", metavar="JSON",
                    help='target token mixture per source, e.g. '
                         '\'{"web": 0.6, "code": 0.4}\' — reports per-source '
                         "sampling weights over the cleaned corpus")
    ap.add_argument("--pack-len", type=int, default=0, metavar="N",
                    help="report concat-and-chunk packing stats at training "
                         "sequence length N (0 = off)")
    ap.add_argument("--token-budget", type=int, default=0, metavar="N",
                    help="cap each source at N tokens (greedy fill in doc_id "
                         "order; 0 = off)")
    ap.add_argument("--mix-output", metavar="PATH",
                    help="materialize the --mix-targets mixture (deterministic "
                         "repeat/downsample per source) to this parquet path")
    ap.add_argument("--max-repeat", type=float, default=0,
                    help="cap any source's mixture repeat factor (0 = no cap)")
    ap.add_argument("--splits", metavar="JSON",
                    help='deterministic split fractions, e.g. '
                         '\'{"train": 0.9, "val": 0.05, "test": 0.05}\' — '
                         "adds a split column to the cleaned corpus")
    ap.add_argument("--shards", type=int, default=0, metavar="N",
                    help="write --mix-output as N deterministically shuffled "
                         "shard dirs, each sorted by the shuffle key (0 = off)")
    ap.add_argument("--chunk-output", metavar="PATH",
                    help="write sliding-window chunks of the cleaned corpus "
                         "to this parquet path (needs --chunk-tokens)")
    ap.add_argument("--chunk-tokens", type=int, default=0, metavar="N",
                    help="chunk window size in tokens for --chunk-output")
    ap.add_argument("--chunk-overlap", type=int, default=0, metavar="K",
                    help="tokens shared by consecutive chunks (default 0)")
    ap.add_argument("--report", help="write the attrition report JSON here")
    args = ap.parse_args()

    from illumio_spark.session import build_session

    spark = build_session(app_name="text_pipeline")
    spark.sparkContext.setLogLevel("WARN")
    report = run(spark, args)
    out = json.dumps(report, indent=1)
    print(out)
    if args.report:
        with open(args.report, "w") as f:
            f.write(out)
    spark.stop()


if __name__ == "__main__":
    main()
