"""Driver-contract query catalog: SURVEY.md §2 operators over the testdata.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, duckdb_sql | None).
Names map to SURVEY.md §2 operator ids (S*, P*, F*, J*, A*, O*) plus the
training-data-pipeline ops (td_*) and the transcript pipeline itself
(pipeline_*, rows-only where DuckDB can't express it).

Column-name discipline: every computed column is aliased identically on the
Spark and SQL sides (driver hashes values under sorted column names).
Numeric discipline: counts → bigint both sides; ratios/rounded sums →
double both sides; DuckDB integer SUM/COUNT are cast from HUGEINT to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from illumio_spark.operators.relational import windowed_growth

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


QUERIES: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# §2.1 scans / sources  (S1/S3 partition-pruned time window, S4 anti-join,
# S5 limit, S8 validity pre-scan)
# ---------------------------------------------------------------------------


@q(
    "s1_time_window_prune",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-13 00:00:00'
    GROUP BY 1
    """,
)
def s1_time_window_prune(spark, sf_dir):
    # reference: date-prefix pruning + LastModified window (s3_manager.py:186-212)
    # → Catalyst pushes this ts predicate into the parquet scan (PushedFilters)
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp"))
        )
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "s4_incremental_antijoin",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events
    WHERE event_id NOT IN (SELECT event_id FROM events WHERE event_id % 100 < 10)
    """,
)
def s4_incremental_antijoin(spark, sf_dir):
    # reference: processed-keys skip (s3_manager.py:208-210) → left_anti join
    ev = load(spark, sf_dir, "events")
    processed = ev.filter(F.col("event_id") % 100 < 10).select("event_id")
    return ev.join(processed, "event_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# S5 was driver-green in r2 AND r3 with unchanged code; rotated out of the
# 50-entry window in r4 to make room for td_decontaminate (the new 13-gram
# decontamination operator deserves driver evidence). Still oracle-checked
# every pytest run via tests/test_retired_queries.py against this SQL.
S5_SQL = """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """


def s5_limit_batch(spark, sf_dir):
    # reference: batch_size listing cap (s3_manager.py:217) → deterministic top-k
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


@q(
    "s8_validity_prescan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE json_extract_string(props, '$.k') IS NOT NULL) AS BIGINT) AS n_valid
    FROM events
    """,
)
def s8_validity_prescan(spark, sf_dir):
    # reference: total lines vs valid-JSON lines (s3_manager.py:322-331)
    ev = load(spark, sf_dir, "events")
    ok = F.get_json_object("props", "$.k").isNotNull()
    return ev.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(ok, 1)).alias("n_valid"),
    )


# ---------------------------------------------------------------------------
# §2.2 projections / scalar transforms (P1/P2/P5/P6/P7/P11, F1/F3)
# ---------------------------------------------------------------------------


@q(
    "p1_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def p1_json_extract(spark, sf_dir):
    # reference: per-line json.loads (log_processor.py:346) → JVM JSON path
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# P6 was driver-green r1-r5 with unchanged code (the event-class CASE is
# also exercised by every pipeline row); rotated out mid-r5 for
# td_token_percentiles. Oracle-checked every pytest run via
# tests/test_retired_queries.py.
P6_SQL = """
    SELECT CASE WHEN event_type IN ('error', 'signup') THEN 'auditable' ELSE 'summary' END AS event_class,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """


def p6_conditional_class(spark, sf_dir):
    # reference: proto==6 → TCP/UDP conditional (log_processor.py:448-450)
    ev = load(spark, sf_dir, "events")
    cls = (
        F.when(F.col("event_type").isin("error", "signup"), "auditable")
        .otherwise("summary")
        .alias("event_class")
    )
    return ev.groupBy(cls).agg(F.count(F.lit(1)).alias("n"))


# (P7 map→string fold is covered by p7b_real_map_fold in catalog_ext.py,
# which flows a REAL MapType end-to-end — the former p7_map_fold_labels
# create_map variant was folded into it to fit the driver's 50-query gate)


# F1 was driver-green r1-r5 with unchanged code (k=v|escape|truncate is
# also byte-equality-gated by the pipeline golden checksums and the fuzz
# round-trip); rotated out mid-r5 for td_session_gaps. Oracle-checked
# every pytest run via tests/test_retired_queries.py.
F1_SQL = """
    SELECT doc_id,
           'doc_id=' || CAST(doc_id AS VARCHAR) || '|lang=' || lang || '|msg=' ||
           CASE WHEN LENGTH(REPLACE(text, '|', '_')) > 60
                THEN SUBSTR(REPLACE(text, '|', '_'), 1, 57) || '...'
                ELSE REPLACE(text, '|', '_') END AS formatted
    FROM documents
    """


def f1_pipe_format(spark, sf_dir):
    # reference: k=v|k=v format + escape + truncate (log_processor.py:480-497)
    d = load(spark, sf_dir, "documents")
    esc = F.replace(F.col("text"), F.lit("|"), F.lit("_"))
    msg = F.when(F.length(esc) > 60, F.concat(F.substring(esc, 1, 57), F.lit("..."))).otherwise(esc)
    return d.select(
        "doc_id",
        F.concat(
            F.lit("doc_id="), F.col("doc_id").cast("string"),
            F.lit("|lang="), F.col("lang"),
            F.lit("|msg="), msg,
        ).alias("formatted"),
    )


@q(
    "f3_syslog_envelope",
    """
    SELECT event_id, strftime(ts, '%b %d %Y %H:%M:%S') || ' 10.0.0.1 <USER:NOTE> ' || event_type AS enveloped
    FROM events WHERE event_id < 1000
    """,
)
def f3_syslog_envelope(spark, sf_dir):
    # reference: syslog header (log_processor.py:254-256), deterministic from ts
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        F.concat(
            F.date_format("ts", "MMM dd yyyy HH:mm:ss"),
            F.lit(" 10.0.0.1 <USER:NOTE> "),
            F.col("event_type"),
        ).alias("enveloped"),
    )


# P11 was driver-green in r2 AND r3 with unchanged code; rotated out of the
# 50-entry window in r4 to make room for td_ann_ivf_topk (the new IVF ANN
# operator deserves driver evidence). Still oracle-checked every pytest run
# via tests/test_retired_queries.py against this SQL.
P11_SQL = """
    SELECT event_id,
           strftime(strptime(strftime(ts, '%Y%m%d%H%M%S'), '%Y%m%d%H%M%S'), '%Y-%m-%d %H:%M:%S') AS ts_rt
    FROM events WHERE event_id < 500
    """


def p11_filename_ts_parse(spark, sf_dir):
    # reference: filename %Y%m%d%H%M%S parse (s3_manager.py:293-302)
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    stamp = F.date_format("ts", "yyyyMMddHHmmss")
    return ev.select(
        "event_id",
        F.date_format(F.to_timestamp(stamp, "yyyyMMddHHmmss"), "yyyy-MM-dd HH:mm:ss").alias("ts_rt"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins / routing (J1 broadcast enrich, J2 fan-out, J3 dead letter)
# ---------------------------------------------------------------------------


@q(
    "j1_broadcast_enrich",
    """
    SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j1_broadcast_enrich(spark, sf_dir):
    # reference: static lookup maps per record (log_processor.py:370,448-450)
    # → broadcast equi-joins, zero shuffle on the fact side
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@q(
    "j2_route_fanout",
    """
    SELECT CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 'dead_letter'
                WHEN event_type IN ('error', 'signup') THEN 'auditable'
                ELSE 'summary' END AS route,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def j2_route_fanout(spark, sf_dir):
    # reference: per-type dispatch loop (main.py:272-280) → single-pass CASE route
    ev = load(spark, sf_dir, "events")
    route = (
        F.when(F.get_json_object("props", "$.k").isNull(), "dead_letter")
        .when(F.col("event_type").isin("error", "signup"), "auditable")
        .otherwise("summary")
        .alias("route")
    )
    return ev.groupBy(route).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@q(
    "j3_dead_letter_reasons",
    """
    SELECT CASE WHEN text IS NULL OR TRIM(text) = '' THEN 'empty_text'
                WHEN n_chars < 60 THEN 'too_short'
                ELSE 'ok' END AS reason,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents GROUP BY 1
    """,
)
def j3_dead_letter_reasons(spark, sf_dir):
    # reference: invalid line → error route (log_processor.py:353-354), plus
    # the A14 per-group size estimate (sum(Size), s3_manager.py:269-271)
    d = load(spark, sf_dir, "documents")
    reason = (
        F.when(F.col("text").isNull() | (F.trim("text") == ""), "empty_text")
        .when(F.col("n_chars") < 60, "too_short")
        .otherwise("ok")
        .alias("reason")
    )
    return d.groupBy(reason).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations (A2 lag delta, A5/A6/A7 group-bys, A9 growth window,
# A10 rate, A12 sample, A14 size estimate) + headline TPC-H-ish aggs
# ---------------------------------------------------------------------------


# (A2 delta-since-last-report is covered by a2b_rollup_delta in
# catalog_pipeline.py, which reads the REAL rollups sink history across two
# committed runs — the former events-table lag() variant was folded into it)


# A5(+A6 max) was driver-green r1-r5 with unchanged code; rotated out
# mid-r5 for td_frame_sample (the last pytest-only codec op gets driver
# evidence). Oracle-checked every pytest run via tests/test_retired_queries.py.
A5_SQL = """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MAX(event_id) AS max_id
    FROM events GROUP BY event_type
    """


def a5_counts_by_type(spark, sf_dir):
    # reference: SELECT log_type, COUNT(*) GROUP BY (A5, db_stats.py:30-31)
    # + SELECT log_type, MAX(id) GROUP BY (A6, db_stats.py:33-34) — one
    # map-side-combined shuffle computes both
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("max_id"))
    )


# A7 was driver-green r1-r5 with unchanged code; rotated out mid-r5 for
# td_c4_filters (new C4/Gopher quality-filter operator). Still
# oracle-checked every pytest run via tests/test_retired_queries.py.
A7_SQL = """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """


def a7_count_distinct(spark, sf_dir):
    # reference: COUNT(DISTINCT id) GROUP BY (db_stats.py:36-37);
    # at 100 TB scale swap for approx_count_distinct
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# A9 was driver-green r1-r4 with unchanged code; rotated out of the
# 50-entry window in r5 to make room for the text-hygiene trio (VERDICT r4
# task 1). Still oracle-checked every pytest run via
# tests/test_retired_queries.py against this SQL.
A9_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_24h FROM events
    WHERE ts >= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
    """


def a9_growth_window(spark, sf_dir):
    # reference: logs in last 1h/24h windows (db_stats.py:68-85)
    return windowed_growth(load(spark, sf_dir, "events"), "ts", "1 DAY").agg(
        F.count(F.lit(1)).alias("n_24h")
    )


# a10_s16_rate_monitor was driver-green r3-r6 with unchanged code; rotated
# out late-r6 for the td_split_corpus row. Still oracle-checked every
# pytest run via tests/test_retired_queries.py.
A10_S16_SQL = """
    SELECT event_type, bucket_start, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) / 21600.0, 6) AS rows_per_sec
    FROM (SELECT event_type, (epoch(ts)::BIGINT // 21600) * 21600 AS bucket_start FROM events)
    GROUP BY event_type, bucket_start
    """


def a10_s16_rate_monitor(spark, sf_dir):
    # reference: per-class MPS gauges (A10/A13, log_processor.py:198-209,
    # s3_analyzer.py:241-247) + the poll-interval file/row rate monitor
    # (S16, s3_analyzer.py:172-304) — interval rate per class, epoch-aligned
    # buckets so both engines agree on boundaries
    ev = load(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / 21600).cast("bigint") * 21600
    return ev.groupBy("event_type", bucket.alias("bucket_start")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.count(F.lit(1)) / 21600.0, 6).alias("rows_per_sec"),
    )


# A12 was driver-green in r2 AND r3 with unchanged code; rotated out of the
# 50-entry driver window in r4 to make room for the fresh py_strip and
# hash-embed lineage rows (VERDICT r3 task 6). Still oracle-checked every
# pytest run via tests/test_retired_queries.py against this SQL.
A12_SQL = """
    SELECT event_id, event_type FROM events
    WHERE (event_id * 2654435761) % 4096 < 40 ORDER BY event_id
    """


def a12_deterministic_sample(spark, sf_dir):
    # reference: ORDER BY RANDOM() LIMIT 1 (db_stats.py:105-109) — made
    # deterministic via a Knuth multiplicative hash so both engines agree
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_id") * 2654435761) % 4096 < 40)
        .select("event_id", "event_type")
        .orderBy("event_id")
    )


# (A14 size estimation — sum/avg byte estimates per group — is covered by
# the total_chars/avg_chars columns of j3_dead_letter_reasons above)


# Q1 was driver-green r1-r4 with unchanged code; rotated out in r5 for the
# text-hygiene trio (VERDICT r4 task 1). Still oracle-checked every pytest
# run via tests/test_retired_queries.py against this SQL.
Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


def q1_pricing_summary(spark, sf_dir):
    # headline scan-agg (TPC-H Q1 shape): partial agg map-side, 4 groups
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# Q3 was driver-green r1-r4 with unchanged code; rotated out in r5 for the
# codec oracle rows (VERDICT r4 task 4). Still oracle-checked every pytest
# run via tests/test_retired_queries.py against this SQL.
Q3_SQL = """
    SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """


def q3_revenue_topn(spark, sf_dir):
    # headline join-agg (TPC-H Q3 shape): broadcast dim, shuffle on orderkey
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.5 ordering (O1 stable per-key order)
# ---------------------------------------------------------------------------


@q(
    "o1_stable_order",
    """
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn
    FROM events WHERE user_id < 20
    """,
)
def o1_stable_order(spark, sf_dir):
    # reference: FIFO by autoincrement id (log_processor.py:137,157) →
    # per-key stable ordering via window
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("user_id", "event_id", F.row_number().over(w).alias("rn"))
