"""TableIO seam: Iceberg-first, parquet+manifest fallback (SURVEY.md §7 step 0).

The pipeline code never branches on storage format. When an Iceberg runtime
jar is on the classpath, tables live in a hadoop catalog ('local.db.<name>')
with snapshot commits; otherwise each table is a parquet directory per run
(`<root>/<table>/run_id=<id>/`) plus a `manifest.json` standing in for
snapshot metadata (run lineage, schema, paths).

This mirrors — and strictly improves on — the reference's durability story:
the SQLite FIFO queue (app/log_processor.py:129-169) and state.json
(app/s3_manager.py:253-267) become atomic table commits + a manifest.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from illumio_spark.session import iceberg_available


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """spark.read.parquet(path), or None iff the path does not exist —
    the frontier-read idiom shared by every cross-run/streaming dedup
    state table. ONLY path-not-found means "first run"; any other
    analysis failure (corrupt footer, permissions, schema problems)
    re-raises — swallowing it would silently disable cross-run dedup
    and re-keep previously-seen content (r6 ADVICE)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cls = (e.getCondition() or "") if hasattr(e, "getCondition") else ""
        if "PATH_NOT_FOUND" not in cls and "Path does not exist" not in str(e):
            raise
        return None


class TableIO:
    def __init__(self, root: str, use_iceberg: bool | None = None):
        self.root = root
        self.use_iceberg = iceberg_available() if use_iceberg is None else use_iceberg
        os.makedirs(root, exist_ok=True)

    # -- manifest (fallback snapshot metadata) ------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"table": table, "runs": []}

    def _commit_manifest(
        self,
        table: str,
        run_id: str,
        path: str,
        schema: str,
        partition_by: list[str] | None = None,
    ) -> None:
        m = self._load_manifest(table)
        m["runs"] = [r for r in m["runs"] if r["run_id"] != run_id]
        m["runs"].append(
            {
                "run_id": run_id,
                "path": path,
                "schema": schema,
                "partition_by": partition_by or [],
                "committed_at": time.time(),
            }
        )
        tmp = self._manifest_path(table) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path(table))  # atomic commit

    # -- write/read ----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        run_id: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        if self.use_iceberg:
            from pyspark.sql.functions import col, lit

            # per-run rows under a __run_id partition: 'overwrite' replaces
            # only THIS run's partition (createOrReplace would drop every
            # prior run's watermarks and break resume.committed_days)
            full = f"local.db.{table}"
            dfw = df.withColumn("__run_id", lit(run_id))
            spark = df.sparkSession
            try:
                spark.read.table(full)
                exists = True
            except Exception:
                exists = False
            if not exists:
                w = dfw.writeTo(full).partitionedBy(
                    col("__run_id"), *[col(c) for c in (partition_by or [])]
                )
                w.create()
            elif mode == "overwrite":
                dfw.writeTo(full).overwrite(col("__run_id") == lit(run_id))
            else:
                dfw.writeTo(full).append()
            self._commit_manifest(table, run_id, full, df.schema.simpleString(), partition_by)
            return full
        path = os.path.join(self.root, table, f"run_id={run_id}")
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._commit_manifest(table, run_id, path, df.schema.simpleString(), partition_by)
        return path

    def _read_run_path(self, spark: SparkSession, path: str, schema_str: str) -> DataFrame:
        """Read one committed run dir with the schema its manifest recorded.

        No footer-inference job per read, and an EMPTY partitioned write
        (no parquet files) reads back empty with its columns; a deleted
        run dir still fails (PATH_NOT_FOUND). Partition columns come back
        last, as partition discovery orders them."""
        return spark.read.schema(StructType.fromDDL(schema_str)).parquet(path)

    def read(self, spark: SparkSession, table: str, run_id: str | None = None) -> DataFrame:
        if self.use_iceberg:
            from pyspark.sql.functions import col

            df = spark.read.table(f"local.db.{table}")
            if run_id is not None:
                df = df.filter(col("__run_id") == run_id)
            return df.drop("__run_id")
        runs = self._load_manifest(table)["runs"]
        if run_id is not None:
            match = [r for r in runs if r["run_id"] == run_id]
            if not match:
                return spark.read.parquet(os.path.join(self.root, table, f"run_id={run_id}"))
            return self._read_run_path(spark, match[0]["path"], match[0]["schema"])
        if not runs:
            raise FileNotFoundError(f"no committed runs for table {table}")
        # per-run reads unioned so hive-style partition discovery (e.g. the
        # `sink` column) resolves against each run's own base path;
        # allowMissingColumns = schema evolution across runs (a run written
        # after a column was added still unions with older runs — missing
        # columns read as null, Iceberg's add-column semantics)
        dfs = [self._read_run_path(spark, r["path"], r["schema"]) for r in runs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def committed_runs(self, table: str) -> list[str]:
        return [r["run_id"] for r in self._load_manifest(table)["runs"]]

    # -- retention / TTL maintenance (T11, reference app/main.py:395-441) ----
    def expire_runs(self, spark: SparkSession, table: str, drop_run_ids: list[str]) -> int:
        """Run-level retention: delete expired run partitions/dirs and their
        manifest rows (the reference's 'delete logs older than 30 days' +
        VACUUM, app/main.py:395-441; Iceberg analog of expireSnapshots)."""
        import shutil

        if not drop_run_ids:
            return 0  # empty IN () is invalid SQL on the Iceberg branch
        dropped = 0
        if self.use_iceberg:
            ids = ", ".join(f"'{r}'" for r in drop_run_ids)
            spark.sql(f"DELETE FROM local.db.{table} WHERE __run_id IN ({ids})")
            try:  # physically expire the superseded snapshots
                spark.sql(
                    f"CALL local.system.expire_snapshots(table => 'db.{table}', "
                    "older_than => now())"
                )
            except Exception:
                pass  # procedure catalog unavailable: logical delete stands
        m = self._load_manifest(table)
        keep = []
        for r in m["runs"]:
            if r["run_id"] in drop_run_ids:
                dropped += 1
                if not self.use_iceberg:
                    shutil.rmtree(r["path"], ignore_errors=True)
            else:
                keep.append(r)
        m["runs"] = keep
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path(table))
        return dropped

    def expire_before(self, spark: SparkSession, table: str, committed_before: float) -> int:
        """Expire every run committed before the cutoff (unix seconds)."""
        drop = [
            r["run_id"]
            for r in self._load_manifest(table)["runs"]
            if r.get("committed_at", 0) < committed_before
        ]
        return self.expire_runs(spark, table, drop) if drop else 0

    def delete_where(self, spark: SparkSession, table: str, condition: str) -> None:
        """Row-level TTL: delete rows matching a SQL condition (e.g.
        "ts < timestamp'2026-01-01'"). Iceberg: a metadata DELETE; parquet
        fallback: rewrite each run dir filtered, atomic via tmp-dir swap."""
        from pyspark.sql.functions import coalesce, expr, lit

        if self.use_iceberg:
            spark.sql(f"DELETE FROM local.db.{table} WHERE {condition}")
            return
        import shutil

        for r in self._load_manifest(table)["runs"]:
            # keep rows where the condition is NOT TRUE: plain ~expr(cond)
            # would also drop NULL-evaluating rows (e.g. null ts under
            # "ts < cutoff"), diverging from SQL DELETE's three-valued WHERE
            kept = spark.read.parquet(r["path"]).filter(
                ~coalesce(expr(condition), lit(False))
            )
            pby = r.get("partition_by") or []
            tmp = r["path"] + ".ttl_tmp"
            writer = kept.write.mode("overwrite")
            if pby:
                writer = writer.partitionBy(*pby)  # preserve the run's layout
            writer.parquet(tmp)
            old = r["path"] + ".ttl_old"
            os.rename(r["path"], old)
            os.rename(tmp, r["path"])
            shutil.rmtree(old, ignore_errors=True)

    def compact(
        self, spark: SparkSession, table: str, target_mb: int = 128,
        run_id: str | None = None, sort_within: list[str] | None = None,
    ) -> dict:
        """Small-files compaction (Iceberg's rewrite_data_files; the 100 TB
        sink-maintenance op): each run dir whose average data file is under
        half the target is rewritten to ceil(bytes/target) files per
        partition directory, atomic via the same tmp-dir swap as
        delete_where, preserving the run's partition layout. coalesce is
        shuffle-free but CONCATENATES source files, so a merged file is no
        longer internally sorted — pass sort_within=["conv_id","turn_idx"]
        for the pipeline sinks to restore the O1 per-file invariant (a
        local sortWithinPartitions, still no shuffle).
        Returns {'runs': n, 'files_before': x, 'files_after': y}."""
        import math
        import shutil

        if self.use_iceberg:
            # Only "the procedure catalog isn't wired up" may fall through
            # to the directory-manifest path (which describes plain-dir
            # tables, not Iceberg metadata); a real rewrite_data_files
            # failure must surface, not come back as -1/misleading stats.
            import logging

            try:
                spark.sql(
                    f"CALL local.system.rewrite_data_files(table => 'db.{table}', "
                    f"options => map('target-file-size-bytes', '{target_mb * 1024 * 1024}'))"
                )
                return {"runs": -1, "files_before": -1, "files_after": -1}
            except Exception as e:
                # tight match (r5 ADVICE): only signals that the CALL never
                # reached a real rewrite — unknown procedure/routine, the
                # `local` procedure catalog not being registered, or the
                # CALL syntax itself unsupported. A failure whose message
                # merely CONTAINS 'catalog' or 'not found' (e.g. a data
                # file missing mid-rewrite) must raise.
                msg = str(e).lower()
                if not any(
                    s in msg
                    for s in (
                        # NB: no bare 'procedure'/'rewrite' substrings — a
                        # real mid-rewrite failure that merely MENTIONS the
                        # procedure name must raise (r6 ADVICE); these match
                        # only could-not-even-resolve-the-CALL signals
                        "unresolved_routine",
                        "procedure or function rewrite_data_files",
                        "undefined function: rewrite_data_files",
                        "catalog 'local' not found",
                        "catalog plugin class not found",
                        "parse_syntax_error",
                    )
                ):
                    raise
                logging.getLogger(__name__).warning(
                    "Iceberg rewrite_data_files unavailable (%s); "
                    "falling back to directory compaction", e,
                )
        stats = {"runs": 0, "files_before": 0, "files_after": 0}
        for r in self._load_manifest(table)["runs"]:
            if run_id is not None and r["run_id"] != run_id:
                continue
            # leaf data dirs: the run path itself, or its hive partition dirs
            leaves = []
            for dirpath, _dirnames, filenames in os.walk(r["path"]):
                datafiles = [f for f in filenames if f.endswith(".parquet")]
                if datafiles:
                    leaves.append(
                        (dirpath,
                         [os.path.join(dirpath, f) for f in datafiles])
                    )
            n_before = sum(len(fs) for _d, fs in leaves)
            total = sum(os.path.getsize(f) for _d, fs in leaves for f in fs)
            if not n_before or total / n_before >= target_mb * 1024 * 1024 / 2:
                continue  # files already healthy-sized
            stats["runs"] += 1
            stats["files_before"] += n_before
            for leaf, files in leaves:
                size = sum(os.path.getsize(f) for f in files)
                n_out = max(1, math.ceil(size / (target_mb * 1024 * 1024)))
                if n_out >= len(files):
                    stats["files_after"] += len(files)
                    continue
                tmp = leaf + ".compact_tmp"
                df = spark.read.parquet(leaf).coalesce(n_out)
                if sort_within:
                    df = df.sortWithinPartitions(*sort_within)
                df.write.mode("overwrite").parquet(tmp)
                old = leaf + ".compact_old"
                os.rename(leaf, old)
                os.rename(tmp, leaf)
                shutil.rmtree(old, ignore_errors=True)
                stats["files_after"] += n_out
        return stats

    # -- logical sinks over the one-pass partitioned fan-out table -----------
    SINK_COLUMNS = {
        "routed_events": [
            "conv_id", "turn_idx", "event_class", "event_type", "severity", "routed_text", "ts",
        ],
        "dead_letter": ["conv_id", "turn_idx", "raw_text", "error_reason", "ts"],
    }

    def read_sink(self, spark: SparkSession, sink: str, run_id: str | None = None) -> DataFrame:
        """routed_events / dead_letter as views over pipeline_out's `sink`
        partition — partition pruning makes this a targeted directory read."""
        cols = self.SINK_COLUMNS[sink]
        df = self.read(spark, "pipeline_out", run_id)
        from pyspark.sql.functions import col

        return df.filter(col("sink") == sink).select(*cols)
