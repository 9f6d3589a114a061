"""Transcript-pipeline queries for the driver contract.

The transcripts table isn't part of the driver's DuckDB view set, so these
queries are checked against GOLDEN CONSTANTS: the pure-Python oracle
(illumio_spark/oracle.py, the reference-semantics reimplementation that the
pytest golden suite byte-compares against) is run once over the
deterministic seed-42 corpus by tools/gen_pipeline_oracle.py, and its
summarized outputs (per-sink counts + order-insensitive md5 checksums)
become a constant VALUES relation for DuckDB. The Spark side recomputes the
same summaries from a live pipeline run: each row aggregates the sinks that
run_pipeline COMMITTED (read back through TableIO, the production write
path), so any routing / formatting / enrichment / sink-write drift flips a
checksum and fails the driver gate.

Inputs are synthesized deterministically in-process (seed 42, no external
data) at the FIXED golden size, independent of sf_dir: these are
correctness queries; throughput scaling is bench.py's job.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from illumio_spark import synth
from illumio_spark.plans.pipeline import parse_enrich_format, run_pipeline
from illumio_spark.plans.resume import run_resumable
from illumio_spark.queries import pipeline_golden as PG
from illumio_spark.queries.catalog import q
from illumio_spark.sources.tableio import TableIO

_MOD = str(2**64)


def _checksum(col: str) -> F.Column:
    """Order-insensitive corpus checksum, decimal arithmetic mod 2^64 —
    matches tools/gen_pipeline_oracle.checksum exactly."""
    h = F.conv(F.substring(F.md5(F.coalesce(F.col(col), F.lit(""))), 1, 16), 16, 10)
    total = F.sum(h.cast("decimal(20,0)"))
    return F.pmod(total, F.lit(_MOD).cast("decimal(21,0)")).cast("decimal(20,0)").cast("string")


def _sql_str(v) -> str:
    return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"


def _values_sql(rows: list[tuple], cols: list[str], types: list[str]) -> str:
    def render(row):
        return "(" + ", ".join(
            f"CAST({_sql_str(v) if t == 'VARCHAR' else v} AS {t})"
            if v is not None
            else f"CAST(NULL AS {t})"
            for v, t in zip(row, types)
        ) + ")"

    values = ",\n           ".join(render(r) for r in rows)
    return f"SELECT * FROM (VALUES {values}) AS t({', '.join(cols)})"


def _golden_input(spark):
    return synth.generate_spark(spark, PG.N_CONV, hot_frac=PG.HOT_FRAC)


# Pipeline-backed queries need scratch sink dirs. One mkdtemp per *call*
# leaked dirs across repeated driver/selfcheck invocations (ADVICE r3);
# instead each (session, query) builds its result ONCE into a scratch dir
# that is removed at interpreter exit, and repeat calls return the cached
# lazy DataFrame over the already-committed tables.
_SESSION_RESULTS: dict = {}


def _session_cached(spark, name: str, build):
    """build(scratch_dir) -> DataFrame, memoized per (SparkSession, name)."""
    import atexit
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, name)
    if key not in _SESSION_RESULTS:
        root = tempfile.mkdtemp(prefix=f"{name}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SESSION_RESULTS[key] = build(root)
    return _SESSION_RESULTS[key]


def _golden_sinks(spark) -> TableIO:
    """The TableIO holding one committed run_pipeline over the golden
    corpus (run_id 'golden'), built once per session."""

    def build(root):
        io = TableIO(root)
        run_pipeline(spark, _golden_input(spark), io=io, run_id="golden")
        return io

    return _session_cached(spark, "pipeline_golden", build)


def _routed_summary(routed):
    return (
        routed.groupBy("event_class")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
            _checksum("routed_text").alias("checksum"),
        )
        .orderBy("event_class")
    )


@q(
    "pipeline_routed_events",
    _values_sql(
        PG.ROUTED_SUMMARY,
        ["event_class", "n_rows", "n_convs", "checksum"],
        ["VARCHAR", "BIGINT", "BIGINT", "VARCHAR"],
    ),
)
def pipeline_routed_events(spark, sf_dir):
    return _routed_summary(_golden_sinks(spark).read_sink(spark, "routed_events", "golden"))


@q(
    "s7_gz_ndjson_ingest",
    _values_sql(
        PG.ROUTED_SUMMARY,
        ["event_class", "n_rows", "n_convs", "checksum"],
        ["VARCHAR", "BIGINT", "BIGINT", "VARCHAR"],
    ),
)
def s7_gz_ndjson_ingest(spark, sf_dir):
    """S7 raw-input fidelity: the SAME golden corpus, but written as gz
    NDJSON files and ingested via spark.read.text → from_json (the
    reference's download+gunzip+line-parse wire path, s3_manager.py:304-354)
    — must reproduce the identical routed summary as the in-memory path,
    proving the raw front-end is lossless."""
    from illumio_spark.sources.rawlog import read_raw_gz, write_gz_fixture

    def build(out_dir):
        write_gz_fixture(synth.generate_pandas(PG.N_CONV, hot_frac=PG.HOT_FRAC), out_dir)
        raw = read_raw_gz(spark, f"{out_dir}/*.ndjson.gz")
        io = TableIO(f"{out_dir}/sinks")
        run_pipeline(spark, raw, io=io, run_id="s7")
        return _routed_summary(io.read_sink(spark, "routed_events", "s7"))

    return _session_cached(spark, "s7_gz_fixture", build)


@q(
    "pipeline_dead_letter",
    _values_sql(
        PG.DEAD_SUMMARY,
        ["error_reason", "n_rows", "checksum"],
        ["VARCHAR", "BIGINT", "VARCHAR"],
    ),
)
def pipeline_dead_letter(spark, sf_dir):
    return (
        _golden_sinks(spark)
        .read_sink(spark, "dead_letter", "golden")
        .groupBy("error_reason")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _checksum("raw_text").alias("checksum"),
        )
        .orderBy("error_reason")
    )


# a3_report was driver-green r2-r6 with unchanged code (golden-constant
# oracle); rotated out late-r6 for the chunk/top-frac/shard rows. Still
# oracle-checked every pytest run via tests/test_retired_queries.py.
A3_SQL = _values_sql(
    [PG.A3_REPORT],
    ["n_summary", "n_auditable", "n_dead", "n_total", "n_days", "first_day", "last_day"],
    ["BIGINT", "BIGINT", "BIGINT", "BIGINT", "BIGINT", "VARCHAR", "VARCHAR"],
)


def a3_report(spark, sf_dir):
    """A3 detailed report (reference health_reporter.py:266-285): one-row
    snapshot of all pipeline counters + the event-day span, computed from a
    live run and checked against the oracle's golden constants."""
    enriched = parse_enrich_format(spark, _golden_input(spark))
    is_cls = lambda c: F.col("event_class") == c  # noqa: E731
    day = F.date_format("ts", "yyyy-MM-dd")
    return enriched.agg(
        F.count(F.when(is_cls("summary"), 1)).alias("n_summary"),
        F.count(F.when(is_cls("auditable"), 1)).alias("n_auditable"),
        F.count(F.when(F.col("event_class").isNull(), 1)).alias("n_dead"),
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(day).alias("n_days"),
        F.min(day).alias("first_day"),
        F.max(day).alias("last_day"),
    )


@q(
    "a11_total_ever",
    _values_sql(PG.A11_RUNS, ["run_id", "n_rows"], ["VARCHAR", "BIGINT"]),
)
def a11_total_ever(spark, sf_dir):
    """A11 total-ever lineage (reference db_stats.py:58-66 reads
    sqlite_sequence.seq): per-run committed row totals read back from the
    checkpoints table across a two-run resumable history — the manifest/
    snapshot lineage as a queryable relation."""

    def build(root):
        io = TableIO(root)
        df = _golden_input(spark)
        first = df.filter(F.date_format("ts", "yyyy-MM-dd") <= PG.A11_CUTOFF)
        run_pipeline(spark, first, io=io, run_id="run1")
        run_resumable(spark, df, io, run_id="run2")
        ckpt = io.read(spark, "checkpoints")
        run_id = F.split(F.col("lineage_id"), ":").getItem(0).alias("run_id")
        return ckpt.groupBy(run_id).agg(F.sum("n_rows").alias("n_rows")).orderBy("run_id")

    return _session_cached(spark, "a11_lineage", build)


@q(
    "a2b_rollup_delta",
    _values_sql(
        PG.A2B_ROWS,
        ["run_id", "event_class", "sink", "n_rows", "delta"],
        ["VARCHAR", "VARCHAR", "VARCHAR", "BIGINT", "BIGINT"],
    ),
)
def a2b_rollup_delta(spark, sf_dir):
    """A2 delta-since-last-report over the REAL rollups sink history
    (reference health_reporter.py:245-262 reads its own prior report): two
    pipeline commits (run1 = days ≤ cutoff, run2 = resumable remainder),
    then per-class lag() deltas computed from the committed rollups table —
    the report history as a queryable relation."""
    from pyspark.sql import Window


    def build(root):
        io = TableIO(root)
        df = _golden_input(spark)
        first = df.filter(F.date_format("ts", "yyyy-MM-dd") <= PG.A11_CUTOFF)
        run_pipeline(spark, first, io=io, run_id="run1")
        run_resumable(spark, df, io, run_id="run2")
        roll = io.read(spark, "rollups")
        w = Window.partitionBy("sink", "event_class").orderBy("run_id")
        return roll.select(
            "run_id", "event_class", "sink", "n_rows",
            (F.col("n_rows") - F.lag("n_rows").over(w)).alias("delta"),
        ).orderBy("run_id", "sink", "event_class")

    return _session_cached(spark, "a2b_rollups", build)


@q(
    "pipeline_rollup_counts",
    _values_sql(
        PG.ROLLUP_ROWS,
        ["event_class", "event_type", "severity", "n"],
        ["VARCHAR", "VARCHAR", "VARCHAR", "BIGINT"],
    ),
)
def pipeline_rollup_counts(spark, sf_dir):
    return (
        _golden_sinks(spark)
        .read_sink(spark, "routed_events", "golden")
        .groupBy("event_class", "event_type", "severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_class", "event_type", "severity")
    )
