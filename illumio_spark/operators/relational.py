"""Generic relational operators with explicit skew handling.

The reference has no skew story (a hot log type serializes behind its
single FIFO, app/log_processor.py:129-169); at 10¹² turns a hot
conversation or hot key makes the naive groupBy's one reducer the job's
critical path. `salted_agg` is the standard two-phase fix: salt → partial
aggregate (shuffles at most n_salts rows per key-salt) → final combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

AGG_COMBINERS = {
    "count": ("count", F.sum),
    "sum": ("sum", F.sum),
    "min": ("min", F.min),
    "max": ("max", F.max),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 32,
    heavy_keys: DataFrame | None = None,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) partials, then combine.

    aggs: output_name → (agg_kind, input_col); agg_kind ∈ count/sum/min/max
    (algebraic aggregates — the decomposable ones).
    Example: salted_agg(df, ["conv_id"], {"n": ("count", "*"),
                                          "bytes": ("sum", "n_chars")})

    heavy_keys: optional single-column DataFrame of known hot key values
    (first key column). When given, ONLY those keys are salted — unskewed
    keys keep salt 0, so their partials collapse to one row and the second
    shuffle moves almost nothing. When omitted, every key is salted
    (correct but pays a second shuffle even for uniform data; prefer
    passing heavy_keys or leaning on AQE skew handling for joins).

    The salt is derived from spark_partition_id — deterministic for a given
    partitioning and always safe for algebraic aggregates (partials commute),
    unlike monotonically_increasing_id whose values shift under recompute."""
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.spark_partition_id()), F.lit(n_salts))
    if heavy_keys is not None:
        # distinct: a duplicated hot-key value in the caller's frame would
        # otherwise duplicate every matching fact row through the left join
        hk = heavy_keys.toDF("__heavy_key").distinct().withColumn("__is_heavy", F.lit(True))
        df = df.join(
            F.broadcast(hk), df[keys[0]] == hk["__heavy_key"], "left"
        ).drop("__heavy_key")
        salt = F.when(F.col("__is_heavy"), salt).otherwise(F.lit(0))
        df = df.withColumn("__salt", salt).drop("__is_heavy")
    else:
        df = df.withColumn("__salt", salt)
    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    for out, (kind, col) in aggs.items():
        partial_kind, combiner = AGG_COMBINERS[kind]
        src = F.lit(1) if col == "*" else F.col(col)
        partial = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}[partial_kind](src)
        partial_exprs.append(partial.alias(f"__p_{out}"))
        final_exprs.append(combiner(F.col(f"__p_{out}")).alias(out))
    partials = df.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partials.groupBy(*keys).agg(*final_exprs)


def windowed_growth(df: DataFrame, ts_col: str, interval: str) -> DataFrame:
    """Rows in the trailing window relative to the data's max timestamp
    (reference 1h/24h growth counters, db_stats.py:68-85)."""
    cutoff = df.agg((F.max(ts_col) - F.expr(f"INTERVAL {interval}")).alias("cut"))
    return df.join(F.broadcast(cutoff)).filter(F.col(ts_col) >= F.col("cut")).drop("cut")
