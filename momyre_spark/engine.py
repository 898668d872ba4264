"""Replication engine driver: spec -> DDL reconcile -> snapshot -> stream.

Orchestration layer re-expressing the reference's ``app.Run``
(``/root/reference/app/run.go:79-336``) on Spark:

- cold start (§3.1): reconcile DDL, then ONE diff pass: per table, the
  source rows full-outer-joined with the sink's keys (``sync_frame``) —
  upserts for source rows, deletes for orphans — all tables through the
  CDC stream's sink writer in one Spark pass (``apply_frames``); then
  start the CDC stream from the pre-snapshot resume point;
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

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from momyre_spark.operators.antijoin import orphan_ids
from momyre_spark.operators.cdc import frame_columns
from momyre_spark.sinks.ddl import DDLPlan, reconcile
from momyre_spark.sinks.dialects import DIALECTS
from momyre_spark.sinks.jdbc_upsert import (
    PROGRESS_TABLE,
    ConnFactory,
    apply_actions,
    delete_dataframe,
    ensure_progress_table,
    upsert_dataframe,
)
from momyre_spark.spec import Spec, enforce_schema

SourceFn = Callable[[str], DataFrame]


def _resync_key(table: str, column: str) -> str:
    name = f"resync:{table}.{column}"  # hashed if wider than the marker column
    return name if len(name) <= 128 else "resync:" + hashlib.md5(name.encode()).hexdigest()


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
        """Apply the DDL diff. The columns it marks for resync are recorded
        in the progress table, in the DDL's transaction and before it, and
        cleared once synced (``_resynced``); markers a crashed run left are
        merged into the plan, so its re-run still resyncs them."""
        plan = reconcile(
            self.spec.tables, self.current_sink_schema(), self.dialect, self.force
        )
        q = self.dialect.q
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            ensure_progress_table(cur, self.dialect)
            cur.execute(f"SELECT {q('name')} FROM {q(PROGRESS_TABLE)}")
            pending = {r[0] for r in cur.fetchall()}
            for table, tspec in self.spec.tables.items():
                for c in tspec.ddl_columns():
                    if _resync_key(table, c) in pending and \
                            c not in plan.resync_columns.get(table, []):
                        plan.mark_resync(table, c)
            mark = self.dialect.upsert_sql(PROGRESS_TABLE, ["name", "value"], "name")
            for table, cols in plan.resync_columns.items():
                cur.executemany(mark, [(_resync_key(table, c), "resync") for c in cols])
            for stmt in plan.statements:
                cur.execute(stmt)
            conn.commit()
        finally:
            conn.close()
        return plan

    def _resynced(self, resync: dict[str, list[str]]) -> None:
        q = self.dialect.q
        conn = self.connection_factory()
        try:
            conn.cursor().executemany(
                f"DELETE FROM {q(PROGRESS_TABLE)} WHERE {q('name')} = {self.dialect.ph}",
                [(_resync_key(t, c),) for t, cols in resync.items() for c in cols],
            )
            conn.commit()
        finally:
            conn.close()

    # -- snapshot + orphan delete (reference O1/O3/J1, run.go:164-279) ---
    def sync_frame(self, table: str, columns: list[str] | None = None) -> DataFrame:
        """One table's action frame for the sink writer, from ONE source
        read. Cold start (``columns=None``): the source rows full-outer-
        joined with the sink's keys — upserts for source rows, deletes for
        sink-only keys (the orphans). Backfill: patches of ``columns``."""
        tspec = self.spec.tables[table]
        src = enforce_schema(self.source(table), tspec)
        if columns is not None:
            return src.select(
                F.lit(table).alias("__table"), "_id",
                F.lit("patch").alias("__action"),
                F.array(*[F.lit(c) for c in columns]).alias("__present"),
                *columns,
            )
        src = src.withColumn("__src", F.lit(True))
        sink = self.sink_ids(table).select(F.col("_id").alias("__sink_id"))
        diff = src.join(sink, src["_id"] == sink["__sink_id"], "full_outer")
        return diff.select(
            F.lit(table).alias("__table"),
            F.coalesce(src["_id"], sink["__sink_id"]).alias("_id"),
            F.when(F.col("__src").isNull(), F.lit("delete"))
            .otherwise(F.lit("upsert")).alias("__action"),
            F.array().cast("array<string>").alias("__present"),
            *[c for c in tspec.sql_columns if c != "_id"],
        )

    def apply_frames(self, frames: dict[str, DataFrame]) -> list:
        """Apply several tables' ``sync_frame``s as ONE action frame, in one
        Spark pass with one sink transaction per partition; returns the
        writer's status rows."""
        types = {
            t: {c: self.spec.tables[t].sql_columns[c]
                for c in df.columns if not c.startswith("__") and c != "_id"}
            for t, df in frames.items()
        }
        names = frame_columns(types)
        every = {names[t][c]: ty for t in types for c, ty in types[t].items()}
        union = None
        for t, df in frames.items():
            own = {n: c for c, n in names[t].items()}
            df = df.select(
                "__table", "_id", "__action", "__present",
                *[F.col(own[n]).alias(n) if n in own else F.lit(None).cast(ty).alias(n)
                  for n, ty in every.items()],
            )
            union = df if union is None else union.unionByName(df)
        return apply_actions(
            union, names,
            connection_factory=self.connection_factory,
            dialect_name=self.dialect_name,
            num_partitions=self.sink_partitions,
        )

    def snapshot_table(self, table: str) -> None:
        """Upsert every source row (``sync_frame`` also deletes orphans)."""
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
        import pyarrow as pa

        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT {self.dialect.q('_id')} FROM {self.dialect.q(table)}")
            ids = [r[0] for r in cur.fetchall()]
        finally:
            conn.close()
        # an Arrow table becomes a JVM-side relation: no Python worker has
        # to unpickle the ids when the frame runs
        return self.spark.createDataFrame(pa.table({"_id": pa.array(ids, pa.string())}))

    # -- column-granular backfill (improvement over the reference, which
    # computes per-column resync sets but then rewrites whole rows anyway —
    # run.go:219-247) --------------------------------------------------
    def backfill_columns(self, table: str, columns: list[str]) -> list:
        """Patch ONLY the given columns from the source — rows written as
        partial updates, untouched columns never travel or get overwritten.

        At 100 TB this is the difference between re-shipping the table and
        shipping one new column."""
        return self.apply_frames({table: self.sync_frame(table, columns)})

    # -- full run (reference §3.1/§3.3 planner) ------------------------
    def run_batch_sync(self) -> dict[str, list[str]]:
        """DDL reconcile + (full | column-granular) sync. Returns what synced.

        New tables (or ``--zerop``) get a full sync (snapshot + orphan
        delete); existing tables with newly added/retyped columns get a
        column-granular backfill patch. Every table's ``sync_frame`` goes
        to the sink in one ``apply_frames`` pass."""
        plan = self.reconcile_ddl()
        if self.zerop:
            resync = {t: list(s.sql_columns) for t, s in self.spec.tables.items()}
        else:
            resync = plan.resync_columns
        frames = {}
        for table, cols in resync.items():
            full = self.zerop or set(cols) >= set(
                self.spec.tables[table].ddl_columns()
            )
            frames[table] = self.sync_frame(
                table, None if full else [c for c in cols if c != "_id"]
            )
        if frames:
            self.apply_frames(frames)
        if plan.resync_columns:
            self._resynced(plan.resync_columns)
        return resync
