"""Steadiness check: two sets of untraced runs of the same commit.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --analyze .perfbench_work/results/steady-<stamp>.jsonl

Each set runs every workload once per seed (seeds 1..runs, the same seeds
in every set), one run at a time. For each workload and end-to-end metric
it prints, per set, the median and quartiles (statistics.quantiles, n=4)
and the spread (q3 - q1) / median, then the drift of the second median
from the first in the metric's worse direction. Both are compared with the
metric's bound in BENCHMARK.json: a spread above a third of the bound is
flagged (setup_s excepted), and the verdict fails on an incorrect run, a
spread above the bound or a drift above the bound. Raw result lines are
kept in a JSONL file so a set can be re-analysed without re-running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import harness

BENCHMARK = os.path.join(harness.ROOT, "BENCHMARK.json")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(harness.ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=200, cwd=harness.ROOT)
    lines = out.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "rc": out.returncode, "wall_s": time.perf_counter() - t0}
    if out.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
        rec["info"] = json.loads(lines[-2])
    else:
        rec["stderr"] = out.stderr[-3000:]
    return rec


def analyze(records: list[dict], bench: dict) -> bool:
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        recs = [r for r in records if r["workload"] == w]
        bad = [r for r in recs if r["rc"] != 0 or not r.get("result", {}).get("correct")]
        if bad:
            ok = False
            print(f"{w}: {len(bad)} failed or incorrect runs, e.g. seed {bad[0]['seed']}")
        sets = sorted({r["set"] for r in recs})
        walls = [r["wall_s"] for r in recs]
        print(f"\n{w}: {len(recs)} runs, wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        medians = {}
        for name, spec in metrics.items():
            row = []
            for s in sets:
                xs = [r["result"]["metrics"][name]["value"] for r in recs
                      if r["set"] == s and "result" in r]
                if len(xs) < 2:
                    continue
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / q2
                medians.setdefault(name, []).append(q2)
                flag = ""
                if name != "setup_s" and spread > spec["bound"] / 3:
                    flag = " SPREAD>bound/3"
                    ok = ok and spread <= spec["bound"]
                row.append(f"set{s}: med {q2:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}{flag}")
            drift = ""
            if len(medians.get(name, [])) >= 2:
                m1, m2 = medians[name][:2]
                worse = (m2 - m1) / m1 if spec["better"] == "lower" else (m1 - m2) / m1
                drift = f" | drift {worse:+.3f} (bound {spec['bound']})"
                ok = ok and worse <= spec["bound"]
            print(f"  {name:12s} " + " | ".join(row) + drift)
    print("\nsteady" if ok else "\nNOT steady")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="seeds per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--analyze", help="re-analyse a JSONL file of an earlier check")
    args = ap.parse_args()
    with open(BENCHMARK) as f:
        bench = json.load(f)
    if args.analyze:
        with open(args.analyze) as f:
            return 0 if analyze([json.loads(line) for line in f], bench) else 1
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bench["workloads"] = [{"name": n} for n in names]
    seconds = args.seconds or bench["run_seconds"]
    os.makedirs(harness.RESULTS, exist_ok=True)
    path = os.path.join(harness.RESULTS, f"steady-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")
    records = []
    with open(path, "w") as f:
        for s in range(1, args.sets + 1):
            for seed in range(1, args.runs + 1):
                for w in names:
                    rec = run_once(w, seed, seconds)
                    rec["set"] = s
                    records.append(rec)
                    f.write(json.dumps(rec) + "\n")
                    f.flush()
                    print(f"set {s} seed {seed} {w}: rc {rec['rc']} {rec['wall_s']:.0f} s", file=sys.stderr)
    print(f"raw results: {path}")
    return 0 if analyze(records, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
