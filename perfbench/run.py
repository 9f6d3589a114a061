"""Repository benchmark: one seeded workload through the program's public
entry points, checked against oracles, one JSON result line.

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 6 --trace 0

Workloads: batch_fanout, stream_microbatch, dedup_curation (see README.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a separate traced run. The last stdout line is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
and the line before it carries the workload's named metrics, the
environment and any check failures. Run it from a checkout of the
repository; without the program next to it, it exits with status 2.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEADLINE_S = 165  # a run never outlives this, traced child included; the
# reaping of leftover processes after it takes at most harness.REAP_*_S more

END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_fanout", "stream_microbatch", "dedup_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the session stop and the reaping


def untraced(args, run, inp, cap) -> tuple[dict, dict]:
    import harness
    import workloads

    spark, session_s = harness.start_session()
    try:
        m = workloads.WORKLOADS[args.workload](spark, run, inp, args.seconds)
        rss = harness.peak_rss_mb([os.getpid(), harness.jvm_pid(spark)])
        env = harness.environment(spark, run)
    finally:
        harness.stop_session(spark)
    setup_s = session_s + m.cold_s
    values = {
        "setup_s": setup_s,
        "items_per_s": m.items_per_s,
        "op_p50_s": m.op_p50_s(),
    }
    named = {
        "setup_s": (setup_s, "s"),
        **m.extra,
        "peak_rss_mb": (rss, "MB"),
        "failed_frac": (m.failed / m.attempted, "ratio"),
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "session_start_s": session_s,
        "cold_pass_s": m.cold_s,
        "op_walls_s": m.walls,
        "codegen_fallbacks": cap.codegen_fallbacks(),
        "env": env,
        "problems": m.problems,
    }
    final = {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
    }
    return info, final


def traced(args, run, inp, cap) -> tuple[dict, dict]:
    import harness
    import tracing

    table, final = tracing.run_traced(args, run, inp, cap)
    os.makedirs(harness.RESULTS, exist_ok=True)
    path = os.path.join(harness.RESULTS, f"layers_{args.workload}_s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(table, f, indent=1)
    table["written_to"] = path
    final["metrics"] = table["layers"]
    return table, final


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import illumio_spark  # noqa: F401 — the program under test, from this checkout
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here ({e})", file=sys.stderr)
        return 2
    import harness
    import inputs

    harness.adopt_orphans()
    signal.signal(signal.SIGTERM, _terminated)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        with harness.RunDir() as run, harness.StderrCapture(run.sub("stderr.log")) as cap:
            inp, gen_s = inputs.prepare(args.workload, harness.CACHE, args.seed, harness.cpus())
            info, final = (traced if args.trace else untraced)(args, run, inp, cap)
    finally:
        signal.alarm(0)
        harness.reap_descendants()
    info["input_prep_s"] = gen_s
    print(json.dumps(info))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
