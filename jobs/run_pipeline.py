"""spark-submit entry point for the transcript pipeline.

Cluster launch (north rule packaging):

    cd /root/repo && zip -r /tmp/illumio_spark.zip illumio_spark
    spark-submit --py-files /tmp/illumio_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/run_pipeline.py \\
        --input  s3a://bucket/transcripts/        # or a local parquet dir \\
        --output s3a://bucket/sinks/ \\
        --run-id run-2026-08-16 \\
        --resume                                   # skip committed days

Local smoke:

    python jobs/run_pipeline.py --synthetic 2000 --output /tmp/sinks

On a real cluster, leave partitioning/AQE to the session defaults: the sink
write uses 4 × executors × cores partitions, and everything else (skew
blocks, broadcast enrich, observe-based rollups) is inside the plan.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcript table path (parquet dir / Iceberg table)")
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "gz-ndjson"],
                    help="gz-ndjson = raw wire format (S7): read.text over *.gz → from_json")
    ap.add_argument("--ttl-cutoff", default=None, metavar="TIMESTAMP",
                    help="T11 maintenance: after the run, delete sink rows with "
                         "ts < cutoff (e.g. '2026-01-01 00:00:00')")
    ap.add_argument("--compact-target-mb", type=int, default=None, metavar="MB",
                    help="post-run maintenance: compact the sink table's small "
                         "files toward this target size (keeps the per-file "
                         "(conv_id, turn_idx) ordering)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic conversations instead of --input")
    ap.add_argument("--output", required=True, help="sink root (TableIO)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--resume", action="store_true", help="skip days already checkpointed")
    ap.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    ap.add_argument("--streaming", action="store_true",
                    help="run as a Structured Streaming job over --input (availableNow)")
    args = ap.parse_args()

    from illumio_spark.session import build_session
    from illumio_spark.sources.tableio import TableIO

    spark = build_session(app_name="illumio_spark_pipeline", master=args.master)
    io = TableIO(args.output)
    run_id = args.run_id or f"run-{int(time.time())}"

    if args.streaming:
        from illumio_spark.streaming.stream_pipeline import read_transcript_stream, start_fanout_stream

        stream = read_transcript_stream(spark, args.input)
        q = start_fanout_stream(
            spark, stream, io, os.path.join(args.output, "_stream_checkpoint"), available_now=True
        )
        q.awaitTermination()
        print(f"[pipeline] streaming run complete → {args.output}")
        return

    if args.synthetic:
        from illumio_spark import synth

        transcripts = synth.generate_spark(spark, args.synthetic, hot_frac=0.2)
    elif args.input_format == "gz-ndjson":
        from illumio_spark.sources.rawlog import read_raw_gz

        glob = args.input if "*" in args.input else os.path.join(args.input, "*.gz")
        transcripts = read_raw_gz(spark, glob)
    else:
        transcripts = spark.read.parquet(args.input)

    t0 = time.time()
    if args.resume:
        from illumio_spark.plans.resume import run_resumable

        result = run_resumable(spark, transcripts, io, run_id)
        if result is None:
            print("[pipeline] nothing pending — all input days already committed")
            return
    else:
        from illumio_spark.plans.pipeline import run_pipeline

        result = run_pipeline(spark, transcripts, io=io, run_id=run_id)

    dt = time.time() - t0
    roll = {(r["event_class"], r["sink"]): r["n_rows"] for r in result["rollups"].collect()}
    total = sum(roll.values())
    print(f"[pipeline] run_id={run_id} {total:,} turns in {dt:.1f}s "
          f"({total / dt:,.0f} turns/s) → {args.output}")
    for (ec, sink), n in sorted(roll.items(), key=str):
        print(f"[pipeline]   {sink:>14s} {str(ec):>10s}: {n:,}")

    if args.ttl_cutoff:
        io.delete_where(spark, "pipeline_out", f"ts < timestamp'{args.ttl_cutoff}'")
        print(f"[pipeline] TTL: deleted sink rows with ts < {args.ttl_cutoff}")
    if args.compact_target_mb:
        stats = io.compact(
            spark, "pipeline_out", target_mb=args.compact_target_mb,
            sort_within=["conv_id", "turn_idx"],
        )
        print(f"[pipeline] compaction: {stats['files_before']} → "
              f"{stats['files_after']} files across {stats['runs']} run(s)")


if __name__ == "__main__":
    main()
