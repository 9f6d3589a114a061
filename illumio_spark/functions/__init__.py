"""Shared helpers for the function/operator modules."""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame

_T = TypeVar("_T")


def once_per_gateway(build: Callable[[], _T]) -> Callable[[], _T]:
    """Memoize a zero-argument Column builder per py4j gateway.

    A Column is an unresolved JVM expression: it names its inputs but is
    bound to no DataFrame or session, so one built set serves every plan
    in that JVM, across sessions. Building the parse/format projections
    from scratch costs thousands of py4j round-trips (~1 s of every run
    and every streaming micro-batch). A new gateway (a relaunched JVM)
    rebuilds. Callers must not mutate the returned value."""
    slot: list = []

    @functools.wraps(build)
    def get() -> _T:
        gateway = SparkContext._gateway
        if not slot or slot[0] is not gateway:
            slot[:] = [gateway, build()]
        return slot[1]

    return get


def repartition_by(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Hash-repartition to the session's default parallelism, PINNED.

    The r8 pre-explode repartitions exist to parallelize CPU-heavy
    per-token work (hashing, regex, matmul) off one-task scans of
    compacted inputs. A bare ``df.repartition(col)`` is AQE-eligible:
    coalescePartitions with parallelismFirst respects only
    minPartitionSize (1 MB), so a 50 k-doc corpus (~4 MB shuffled)
    collapses to ~4 partitions and the downstream hashing runs on 4 of
    32 cores (measured: td_verbatim_spans regressed 6.2 → 6.9 s from
    exactly this). Pinning the partition count disables AQE coalescing
    for this one exchange; defaultParallelism tracks the cluster size,
    so the setting is scale-adaptive, not a local[32] constant.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def parallelize_scan(df: DataFrame, *cols: Column | str) -> DataFrame:
    """repartition_by, but ONLY when the plan is under-parallel.

    For call sites where the repartition does not replace any downstream
    exchange (map-only regex rows, broadcast-nested-loop scoring, bucket
    assignment feeding a differently-keyed shuffle), an unconditional
    shuffle would be pure overhead on a cluster whose scan already has
    thousands of splits — the classic local-only "win". Two probes:
    - a lineage that already contains a shuffle exchange is distributed
      at spark.sql.shuffle.partitions — pass through, and crucially do
      NOT touch df.rdd (converting an AQE plan with shuffles to an RDD
      executes its query stages eagerly: measured 2 eager jobs / 6.7 s
      at plan-build time on the hash-embed lineage);
    - otherwise the plan is narrow over its scan, df.rdd is job-free,
      and its partition count is the scan's split count: compacted
      single-row-group inputs report 1-2 and get the pinned
      repartition; a real many-split scan passes through untouched.
    """
    # NB: the .rdd touch below is DRIVER-SIDE METADATA ONLY (partition
    # count of a narrow plan) — no row ever crosses to Python and no job
    # runs; this is not the per-row .rdd anti-pattern the codebase bans.
    n = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    has_shuffle = any(
        f"Exchange {kind}" in plan
        for kind in ("hashpartitioning", "rangepartitioning",
                     "RoundRobinPartitioning", "SinglePartition")
    )
    if has_shuffle or df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *cols)
