"""Cross-run NEAR-dup dedup off the fixed-overhead floor (VERDICT r6
task 1's bench row): incremental_neardup at 50.8 k and 508 k documents,
each batch deduplicated against a signature frontier holding HALF the
corpus — the rolling-corpus production shape (new-batch-vs-all-history
band join, CC only on the induced subgraph).

Frontier prep (band_signatures of the seen half written to parquet) is
NOT timed — it is prior runs' already-committed state; the timed job is
what one incremental run pays: read the frontier, signature the batch,
band-join new-vs-all, CC the touched subgraph, count the keepers. The
returned new_bands materialization (localCheckpoint) IS inside the
timing — a real run must produce its frontier append.

Usage: python BENCH/bench_incremental_neardup.py   (one session, both
arms, warm pass first). Writes BENCH/incremental_neardup.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "BENCH"))

import bench as B  # noqa: E402
import bench_sf1 as S  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def run_arm(spark, mult: int) -> dict:
    from illumio_spark.operators import dedup as D

    corpus = S.docs_corpus(spark, mult)
    # seen = the first half of the replica id space (prior runs); new =
    # the other half PLUS every injected dup/near-dup (+10M/+20M ids),
    # so the batch contains within-batch groups AND docs near-duplicating
    # frontier content — both decision paths exercised at scale
    cut = 10_000 * mult // 2
    seen = corpus.filter(F.col("doc_id") < cut)
    new = corpus.filter(F.col("doc_id") >= cut)

    frontier_dir = tempfile.mkdtemp(prefix=f"neardup_frontier_m{mult}_")
    D.band_signatures(seen).write.mode("overwrite").parquet(frontier_dir)

    out: dict = {"mult": mult, "n_new": new.count(), "n_seen": seen.count()}
    t0 = time.time()
    seen_bands = spark.read.parquet(frontier_dir)
    kept, new_bands, _ = D.incremental_neardup(new, seen_bands)
    out["kept_rows"] = kept.count()
    out["incremental_neardup_s"] = round(time.time() - t0, 3)
    out["frontier_band_rows"] = seen_bands.count()
    return out


def main() -> None:
    from illumio_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with B.StderrCapture() as cap:
        spark = build_session(
            app_name="bench_incr_neardup", master=f"local[{cpus}]",
            shuffle_partitions=int(cpus),
        )
        spark.sparkContext.setLogLevel("ERROR")
        disk0 = round(B.disk_probe_mb_s())
        run_arm(spark, 1)  # warm every plan shape
        arms = [run_arm(spark, 10), run_arm(spark, 100)]
        disk1 = round(B.disk_probe_mb_s())
        spark.stop()

    a, b = arms
    result = {
        "metric": "incremental_neardup_scale",
        "arms": arms,
        "data_ratio_new": round(b["n_new"] / a["n_new"], 2),
        "time_ratio_508k_over_50k": round(
            b["incremental_neardup_s"] / a["incremental_neardup_s"], 2
        ),
        "cpus": int(cpus),
        "disk_mb_s_before": disk0,
        "disk_mb_s_after": disk1,
        "codegen_fallback": cap.codegen_fallback(),
    }
    with open(os.path.join(ROOT, "BENCH", "incremental_neardup.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
