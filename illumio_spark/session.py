"""SparkSession factory with scale-oriented defaults.

Confs chosen for the 100 TB design point (SURVEY.md §4):
  - One partitioning rule, set here and nowhere else: every shuffle
    (groupBy, join, window, column repartition) starts at
    spark.sql.shuffle.partitions, and AQE coalesces small partitions and
    splits skewed joins at run time. Operators name shuffle keys, never
    partition counts; only sink layouts that set a file count
    (ordered_for_sink, shard writes) pass one. This replaces the reference's dead adaptive-rate code
    (app/log_processor.py:517-540).
  - Arrow execution for pandas UDFs (the mandated vectorized path).
  - UTC session timezone so timestamp semantics match the oracle/DuckDB.
  - Generated classes stay compiled for the life of the session: the
    static conf spark.sql.codegen.cache.maxEntries is CODEGEN_CACHE_ENTRIES
    (Spark's default is 100). A full `bench.py` sf0.1 run fills 614 cache
    entries in one JVM (the codegen_compile_count delta with the cache set
    far above it, so nothing was evicted; an entry is one generated class
    per class loader, and in local mode a whole-stage class is compiled
    for the driver and again for the executor threads); 1000 keeps all of
    them plus headroom for plan shapes the bench does not run. At the
    default of 100, one warm neardup_keepers + verbatim_overlap_spans +
    cut_verbatim_spans operation over perfbench's dedup corpus (114
    entries) recompiled 76-79 of them with Janino on every call, and the
    fresh classes ran interpreted until the JIT compiled them again. The
    cache holds generated classes only, so its size does not grow with
    the data.
  - Iceberg extensions are attached only when the runtime jar is present
    (offline sandbox falls back to the parquet TableIO seam).
"""

from __future__ import annotations

import glob
import os

import pyspark
from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1000  # see the module docstring


def iceberg_available() -> bool:
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg*")
    return bool(glob.glob(jars))


def _default_driver_memory() -> str:
    """16g, capped at 60% of physical RAM: a 16g heap on a 15 GB host
    leaves nothing for the Python workers, the page cache or the OS."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, phys_mb * 6 // 10)}m"


def build_session(
    app_name: str = "illumio_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not cpus.isdigit():  # unset or invalid: size local[N] to the host
        cpus = str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 16g measured more stable than 48g here: big G1 young gens gave
        # 2-3x run-to-run swings on the shuffle-heavy pipeline
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # throughput GC: the format stage allocates ~GBs of short-lived
        # strings per run; ParallelGC measured 7-16% faster than G1 on the
        # format-heavy phase at both 2 and 8 cores
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-scale file splitting: the SF-down inputs are tens of MB, and
        # the default 128MB bin packs a whole table into 1-3 scan tasks —
        # serializing the scan stage (measured: ~6s serial → Amdahl caps
        # 8→32-core scaling at 0.5). On a real cluster with TB inputs keep
        # 128MB (override via extra_conf / SPARK_MAX_PARTITION_BYTES).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # zstd sink writes: ~2× fewer bytes than snappy for these string-heavy
        # sinks — the shared single disk is the measured non-scaling residual
        # (BENCH/BASELINE.md), so write bytes buy scaling efficiency directly
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_PARQUET_CODEC", "zstd"),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if iceberg_available():
        wh = warehouse or os.path.join(os.getcwd(), "warehouse")
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compile_count(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (Spark's
    CodegenMetrics); a cache hit does not count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
