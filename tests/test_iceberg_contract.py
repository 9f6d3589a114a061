"""Contract tests for TableIO's Iceberg branch (no runtime jar offline).

The Iceberg code paths (tableio.py write/read/expire_runs/delete_where)
can't execute for real in this container — no iceberg-spark-runtime jar is
obtainable offline. These tests cover the branch anyway, two ways:

1. FLOW: a recording fake Spark/DataFrame drives every Iceberg branch and
   asserts the exact call sequence — createOrReplace vs per-run-partition
   overwrite vs append, partitionedBy columns, read filter/drop, and the
   rendered SQL strings.
2. SQL SEMANTICS: the DELETE statements the branch renders are executed on
   DuckDB against real tables (catalog prefix rewritten) and must delete
   exactly the rows the parquet fallback deletes — including the
   three-valued NULL-condition semantics the round-3 ADVICE fix aligned.

Tests that build pyspark Column objects (col/lit in the write/read
branch) request the shared `spark` fixture purely to have a JVM for
expression construction — no Iceberg runtime is involved.
"""

from __future__ import annotations

import duckdb
import pytest

from illumio_spark.sources.tableio import TableIO


# ---------------------------------------------------------------------------
# recording fakes: just enough surface for the Iceberg branch
# ---------------------------------------------------------------------------


class FakeSchema:
    def simpleString(self):
        return "struct<id:bigint>"


class FakeWriteTo:
    def __init__(self, df, table, log):
        self.df, self.table, self.log = df, table, log
        self.partition_cols = None

    def partitionedBy(self, *cols):
        self.partition_cols = [str(c) for c in cols]
        return self

    def create(self):
        self.log.append(("create", self.table, self.partition_cols))

    def overwrite(self, cond):
        self.log.append(("overwrite", self.table, str(cond)))

    def append(self):
        self.log.append(("append", self.table))


class FakeDF:
    def __init__(self, spark, log, name="df"):
        self.sparkSession = spark
        self.log, self.name = log, name
        self.schema = FakeSchema()

    def withColumn(self, name, col):
        self.log.append(("withColumn", name, str(col)))
        return self

    def writeTo(self, table):
        return FakeWriteTo(self, table, self.log)

    def filter(self, cond):
        self.log.append(("filter", str(cond)))
        return self

    def drop(self, *cols):
        self.log.append(("drop", cols))
        return self


class FakeReader:
    def __init__(self, spark):
        self.spark = spark

    def table(self, name):
        self.spark.log.append(("read.table", name))
        if name in self.spark.tables:
            return FakeDF(self.spark, self.spark.log, name)
        raise Exception(f"[TABLE_OR_VIEW_NOT_FOUND] {name}")


class FakeSpark:
    def __init__(self, tables=()):
        self.log: list[tuple] = []
        self.tables = set(tables)
        self.read = FakeReader(self)

    def sql(self, q):
        self.log.append(("sql", " ".join(q.split())))
        class _R:  # noqa: N801
            def collect(self):
                return []
        return _R()


def iceberg_io(tmp_path, tables=()):
    io = TableIO(str(tmp_path), use_iceberg=True)
    return io, FakeSpark(tables)


# ---------------------------------------------------------------------------
# flow coverage (tableio.py:63-87 write, 107-114 read)
# ---------------------------------------------------------------------------


def test_write_creates_table_with_run_partition(tmp_path, spark):
    io, spark = iceberg_io(tmp_path)
    df = FakeDF(spark, spark.log)
    out = io.write(df, "rollups", run_id="r1", partition_by=["day"])
    assert out == "local.db.rollups"
    kinds = [e[0] for e in df.log]
    assert kinds[0] == "withColumn" and df.log[0][1] == "__run_id"
    creates = [e for e in df.log if e[0] == "create"]
    assert creates == [("create", "local.db.rollups", ["Column<'__run_id'>", "Column<'day'>"])]
    # manifest committed alongside (lineage metadata is backend-independent)
    assert io.committed_runs("rollups") == ["r1"]


def test_write_overwrites_only_this_runs_partition(tmp_path, spark):
    io, spark = iceberg_io(tmp_path, tables={"local.db.rollups"})
    df = FakeDF(spark, spark.log)
    io.write(df, "rollups", run_id="r2", mode="overwrite")
    ows = [e for e in df.log if e[0] == "overwrite"]
    assert len(ows) == 1
    # the overwrite condition targets ONLY this run's partition — a
    # createOrReplace here would drop every prior run's rows
    assert "__run_id" in ows[0][2] and "r2" in ows[0][2]
    assert not [e for e in df.log if e[0] == "create"]


def test_write_append_mode(tmp_path, spark):
    io, spark = iceberg_io(tmp_path, tables={"local.db.rollups"})
    df = FakeDF(spark, spark.log)
    io.write(df, "rollups", run_id="r3", mode="append")
    assert ("append", "local.db.rollups") in df.log


def test_read_filters_run_and_drops_internal_column(tmp_path, spark):
    io, spark = iceberg_io(tmp_path, tables={"local.db.rollups"})
    io.read(spark, "rollups", run_id="r1")
    assert ("read.table", "local.db.rollups") in spark.log
    filters = [e for e in spark.log if e[0] == "filter"]
    assert len(filters) == 1 and "__run_id" in filters[0][1] and "r1" in filters[0][1]
    assert ("drop", ("__run_id",)) in spark.log


def test_read_without_run_still_drops_internal_column(tmp_path):
    io, spark = iceberg_io(tmp_path, tables={"local.db.t"})
    io.read(spark, "t")
    assert not [e for e in spark.log if e[0] == "filter"]
    assert ("drop", ("__run_id",)) in spark.log


# ---------------------------------------------------------------------------
# rendered SQL: flow + DuckDB execution parity (tableio.py:143-151, 183-185)
# ---------------------------------------------------------------------------


def _manifest_run(io, table, run_id):
    io._commit_manifest(table, run_id, f"local.db.{table}", "struct<id:bigint>")


def test_expire_runs_sql_shape_and_semantics(tmp_path):
    io, spark = iceberg_io(tmp_path)
    _manifest_run(io, "t", "old1")
    _manifest_run(io, "t", "old2")
    _manifest_run(io, "t", "keep")
    dropped = io.expire_runs(spark, "t", ["old1", "old2"])
    assert dropped == 2
    assert io.committed_runs("t") == ["keep"]
    sqls = [e[1] for e in spark.log if e[0] == "sql"]
    assert sqls[0] == "DELETE FROM local.db.t WHERE __run_id IN ('old1', 'old2')"
    assert "expire_snapshots" in sqls[1]

    # execute the rendered DELETE on DuckDB against a real table: it must
    # drop exactly the expired runs' rows
    con = duckdb.connect()
    con.execute("CREATE TABLE t (__run_id VARCHAR, v INT)")
    con.execute("INSERT INTO t VALUES ('old1', 1), ('old2', 2), ('keep', 3)")
    con.execute(sqls[0].replace("local.db.t", "t"))
    assert con.execute("SELECT __run_id FROM t").fetchall() == [("keep",)]


def test_delete_where_sql_matches_parquet_fallback_semantics(tmp_path):
    """The Iceberg branch ships the condition to SQL DELETE; the parquet
    fallback keeps rows where the condition is NOT TRUE. Execute the
    rendered SQL on DuckDB and assert both backends keep the same rows —
    including the NULL-evaluating row (three-valued WHERE)."""
    io, spark = iceberg_io(tmp_path)
    _manifest_run(io, "t", "r1")
    cond = "ts < timestamp'2026-01-15 00:00:00'"
    io.delete_where(spark, "t", cond)
    sqls = [e[1] for e in spark.log if e[0] == "sql"]
    assert sqls == [f"DELETE FROM local.db.t WHERE {cond}"]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, ts TIMESTAMP)")
    con.execute(
        "INSERT INTO t VALUES (1, NULL), (2, timestamp'2026-01-10'), (3, timestamp'2026-01-20')"
    )
    con.execute(sqls[0].replace("local.db.t", "t"))
    kept = [r[0] for r in con.execute("SELECT id FROM t ORDER BY id").fetchall()]
    assert kept == [1, 3]  # NULL-ts row kept — same as the parquet fallback


def test_expire_runs_empty_list_renders_no_sql(tmp_path):
    io, spark = iceberg_io(tmp_path)
    _manifest_run(io, "t", "r1")
    assert io.expire_runs(spark, "t", []) == 0
    assert not [e for e in spark.log if e[0] == "sql"]  # no 'IN ()' ever rendered


def _capture_builder(monkeypatch) -> dict:
    """Swap SparkSession.builder for a fake that records the master and
    every config build_session sets; returns that record."""
    from illumio_spark import session as S

    captured = {}

    class FakeBuilder:
        def appName(self, *_):
            return self

        def master(self, m):
            captured["master"] = m
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            return "session"

    monkeypatch.setattr(S.SparkSession, "builder", FakeBuilder())
    return captured


def test_session_attaches_iceberg_confs_only_with_jar(monkeypatch):
    """build_session must not point spark.sql.catalog.local at a missing
    runtime; with a (mocked) jar present the extension + hadoop catalog
    confs are attached."""
    from illumio_spark import session as S

    captured = _capture_builder(monkeypatch)
    monkeypatch.setattr(S, "iceberg_available", lambda: True)
    assert S.build_session() == "session"
    assert captured["spark.sql.catalog.local"] == "org.apache.iceberg.spark.SparkCatalog"
    assert captured["spark.sql.catalog.local.type"] == "hadoop"
    assert "IcebergSparkSessionExtensions" in captured["spark.sql.extensions"]

    captured.clear()
    monkeypatch.setattr(S, "iceberg_available", lambda: False)
    S.build_session()
    assert "spark.sql.catalog.local" not in captured


def test_session_defaults_sized_to_host(monkeypatch):
    """With no env overrides, local[N] and the shuffle partitions follow
    the host's core count, and the driver heap is min(16g, 60% of RAM):
    a 4-core 15 GB host must not get local[32] and a 16g heap."""
    import os

    from illumio_spark import session as S

    def host(cores, ram_gb):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 2**30 // 4096}
        monkeypatch.setattr(os, "cpu_count", lambda: cores)
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        captured.clear()
        S.build_session()
        return captured

    captured = _capture_builder(monkeypatch)
    monkeypatch.setattr(S, "iceberg_available", lambda: False)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"):
        monkeypatch.delenv(var, raising=False)

    small = host(4, 15)
    assert small["master"] == "local[4]"
    assert small["spark.sql.shuffle.partitions"] == "4"
    assert small["spark.driver.memory"] == f"{15 * 1024 * 6 // 10}m"
    assert host(64, 256)["spark.driver.memory"] == "16384m"

    # env values still win; an invalid core count falls back to the host
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4x")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    env = host(6, 15)
    assert env["master"] == "local[6]"
    assert env["spark.driver.memory"] == "2g"


def test_bench_sizes_session_from_host(monkeypatch):
    """bench.py leaves the master and shuffle partitions to
    build_session's host-sized defaults: with SPARK_GRAFT_CPUS unset it
    must not pin local[32]."""
    import bench
    from illumio_spark import session as S

    calls = []

    class _Stop(Exception):
        pass

    def fake_build_session(*args, **kwargs):
        calls.append((args, kwargs))
        raise _Stop

    monkeypatch.setattr(S, "build_session", fake_build_session)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    with pytest.raises(_Stop):
        bench.main()
    assert calls == [((), {"app_name": "bench"})]
