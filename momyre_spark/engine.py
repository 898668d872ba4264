"""Replication engine driver: spec -> DDL reconcile -> snapshot -> stream.

Orchestration layer re-expressing the reference's ``app.Run``
(``/root/reference/app/run.go:79-336``) on Spark:

- cold start (§3.1): reconcile DDL, snapshot every table (read -> enforce
  schema -> distributed upsert), delete orphans via anti-join, then start
  the CDC stream from the pre-snapshot resume point;
- partial resync (§3.3): only tables whose DDL diff marked columns for
  resync are re-snapshot; the stream resumes from the existing checkpoint
  and replays the overlap — idempotent upserts absorb it (the reference
  relies on the same property, run.go:210-212);
- ``force`` gates destructive DDL (run.go:168-170 semantics), ``zerop``
  forces from-scratch (run.go:164-170).

Consistency without the reference's global fsync lock (O2,
mongo.go:618-640): capture the resume token BEFORE the snapshot read and
replay the overlap — change-stream resume + idempotent merge makes the
write lock unnecessary.

The source is injected as ``table -> DataFrame`` (parquet in tests, the
MongoDB Spark connector in production), the sink as a DBAPI connection
factory + dialect.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from momyre_spark.operators.antijoin import orphan_ids
from momyre_spark.sinks.ddl import DDLPlan, reconcile
from momyre_spark.sinks.dialects import DIALECTS
from momyre_spark.sinks.jdbc_upsert import (
    ConnFactory,
    delete_dataframe,
    upsert_dataframe,
)
from momyre_spark.spec import Spec, enforce_schema

SourceFn = Callable[[str], DataFrame]


class ReplicationEngine:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        source: SourceFn,
        connection_factory: ConnFactory,
        dialect_name: str = "mysql",
        force: bool = False,
        zerop: bool = False,
        sink_partitions: int | None = None,
        jdbc_url: str | None = None,
        jdbc_properties: dict[str, str] | None = None,
        jdbc_predicates: Callable[[str], list[str]] | None = None,
    ) -> None:
        self.spark = spark
        self.spec = spec
        self.source = source
        self.connection_factory = connection_factory
        self.dialect_name = dialect_name
        self.dialect = DIALECTS[dialect_name]
        self.force = force
        self.zerop = zerop
        self.sink_partitions = sink_partitions
        # When set, sink READS (the orphan-scan key read) go through
        # spark.read.jdbc — executor-side, partitionable — instead of a
        # driver-side DBAPI fetchall. ``jdbc_predicates(table)`` optionally
        # returns one WHERE clause per read partition (string keys can't use
        # numeric range partitioning).
        self.jdbc_url = jdbc_url
        self.jdbc_properties = jdbc_properties or {}
        self.jdbc_predicates = jdbc_predicates

    # -- DDL (reference D1-D4) -----------------------------------------
    def current_sink_schema(self) -> dict[str, dict[str, str]]:
        """Introspect the sink (SHOW TABLES/COLUMNS analog, portable)."""
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            if self.dialect_name == "sqlite":
                cur.execute("SELECT name FROM sqlite_master WHERE type='table'")
                tables = [r[0] for r in cur.fetchall()]
                out: dict[str, dict[str, str]] = {}
                for t in tables:
                    cur.execute(f'PRAGMA table_info("{t}")')
                    out[t] = {r[1]: r[2].lower() for r in cur.fetchall()}
                return out
            cur.execute("SHOW TABLES")
            tables = [r[0] for r in cur.fetchall()]
            out = {}
            for t in tables:
                cur.execute(f"SHOW COLUMNS FROM {self.dialect.q(t)}")
                out[t] = {r[0]: str(r[1]).lower() for r in cur.fetchall()}
            return out
        finally:
            conn.close()

    def reconcile_ddl(self) -> DDLPlan:
        plan = reconcile(
            self.spec.tables, self.current_sink_schema(), self.dialect, self.force
        )
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            for stmt in plan.statements:
                cur.execute(stmt)
            conn.commit()
        finally:
            conn.close()
        return plan

    # -- snapshot (reference O1/O3, run.go:164-247) --------------------
    def snapshot_table(self, table: str) -> None:
        tspec = self.spec.tables[table]
        df = enforce_schema(self.source(table), tspec)
        upsert_dataframe(
            df,
            connection_factory=self.connection_factory,
            dialect_name=self.dialect_name,
            table=table,
            key="_id",
            num_partitions=self.sink_partitions,
        )

    def snapshot_to_lake(
        self,
        table: str,
        path: str,
        partition_by: list[str] | None = None,
        versioned: bool = True,
        stats_cols: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> None:
        """Snapshot a table into the lake (the versioned snapshot store,
        sinks/snapshots.py) instead of (or beside) the JDBC sink: each
        snapshot becomes a time-travelable version, and the follow-up CDC
        stream (``start_cdc_lake_stream``) appends versions to the same
        table. ``stats_cols``/``sort_by`` record per-partition column bounds
        in the manifest and cluster rows so ``snapshot_read(stats_filter=
        ...)`` can skip partitions; CDC merges maintain the bounds from then
        on. ``versioned`` only accepts ``True``; it is kept for callers
        that still pass it."""
        if not versioned:
            raise ValueError("momyre: the snapshot store is the only lake sink")
        from momyre_spark.sinks.snapshots import snapshot_write

        tspec = self.spec.tables[table]
        df = enforce_schema(self.source(table), tspec)
        snapshot_write(self.spark, df, path, partition_by,
                       stats_cols=stats_cols, sort_by=sort_by)

    # -- orphan delete (reference J1, run.go:249-279) ------------------
    def delete_orphans(self, table: str, sink_ids: DataFrame) -> None:
        src_ids = self.source(table).select("_id")
        orphans = orphan_ids(sink_ids, src_ids, left_key="_id", right_key="_id")
        delete_dataframe(
            orphans,
            connection_factory=self.connection_factory,
            dialect_name=self.dialect_name,
            table=table,
            key="_id",
            num_partitions=self.sink_partitions,
        )

    def sink_ids(self, table: str) -> DataFrame:
        """S6 key scan (mysql.go:590-604): sink `_id`s as a DataFrame.

        With ``jdbc_url`` configured this is a distributed
        ``spark.read.jdbc`` key-only scan (the projection is pushed into the
        remote query; ``jdbc_predicates`` splits it across executors) — the
        scale path: sink ids never pass through the driver. The DBAPI
        fetchall below is the TEST fallback only (sqlite has no JDBC driver
        here); at 100 TB it would OOM the driver."""
        if self.jdbc_url is not None:
            from momyre_spark.sources.jdbc import read_sink_ids

            preds = (
                self.jdbc_predicates(table) if self.jdbc_predicates else None
            )
            return read_sink_ids(
                self.spark,
                self.jdbc_url,
                table,
                key="_id",
                properties=self.jdbc_properties,
                predicates=preds,
            )
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT {self.dialect.q('_id')} FROM {self.dialect.q(table)}")
            rows = [(r[0],) for r in cur.fetchall()]
        finally:
            conn.close()
        return self.spark.createDataFrame(rows or [], "`_id` string")

    # -- column-granular backfill (improvement over the reference, which
    # computes per-column resync sets but then rewrites whole rows anyway —
    # run.go:219-247) --------------------------------------------------
    def backfill_columns(self, table: str, columns: list[str]) -> None:
        """Patch ONLY the given columns from the source — rows written as
        partial updates, untouched columns never travel or get overwritten.

        At 100 TB this is the difference between re-shipping the table and
        shipping one new column."""
        from pyspark.sql import functions as F

        from momyre_spark.streaming.pipeline import patch_partition

        tspec = self.spec.tables[table]
        df = enforce_schema(self.source(table), tspec).select("_id", *columns)
        fields = list(columns)
        present = F.array(*[F.lit(c) for c in columns])
        patched = df.withColumn("__present", present)
        if self.sink_partitions:
            patched = patched.coalesce(self.sink_partitions)
        # close over plain locals — a lambda capturing `self` would drag the
        # SparkSession into the task closure (unpicklable)
        cf, dn = self.connection_factory, self.dialect_name
        patched.foreachPartition(
            lambda rows: patch_partition(
                rows,
                connection_factory=cf,
                dialect_name=dn,
                table=table,
                fields=fields,
                key="_id",
            )
        )

    # -- full run (reference §3.1/§3.3 planner) ------------------------
    def run_batch_sync(self) -> dict[str, list[str]]:
        """DDL reconcile + (full | column-granular) sync. Returns what synced.

        New tables (or ``--zerop``) get a full snapshot + orphan delete;
        existing tables with newly added/retyped columns get a
        column-granular backfill patch."""
        plan = self.reconcile_ddl()
        if self.zerop:
            resync = {t: list(s.sql_columns) for t, s in self.spec.tables.items()}
        else:
            resync = plan.resync_columns
        for table, cols in resync.items():
            full = self.zerop or set(cols) >= set(
                self.spec.tables[table].ddl_columns()
            )
            if full:
                self.snapshot_table(table)
                self.delete_orphans(table, self.sink_ids(table))
            else:
                self.backfill_columns(table, [c for c in cols if c != "_id"])
        return resync
