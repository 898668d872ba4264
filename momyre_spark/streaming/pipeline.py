"""Structured Streaming CDC pipeline (reference §3.2 steady state).

The reference's steady state is: tailable oplog cursor -> decode -> one MySQL
txn per entry, sequential (``run.go:297-335``). Here the same contract is a
Structured Streaming query:

    ops stream -> foreachBatch:
        per table: merge_ops_microbatch (one shuffle, final action per key)
        -> apply to the sink: upserts (whole rows), patches (present fields
           only), deletes — each partition one transaction, with the batch id
           recorded in-txn (sinks/jdbc_upsert.py) for exactly-once apply.

Ordering: the reference relies on a single sequential applier; the engine
instead collapses each batch to one action per key *before* writing (order-
insensitive within the batch), and Structured Streaming guarantees batch
serialization — batch N+1 never starts before N commits. Replay after crash
re-delivers a completed batch; the in-txn progress marker makes that a no-op.

The ops-stream source is any DataFrame stream with columns
(ts, ns, op, _id, payload) plus an optional ``seq`` tie-breaker (emitted by
the raw-oplog decoder for txn unwraps) — file/parquet streams in tests, the MongoDB Spark
connector's change stream or a Kafka/Debezium topic in production
(decode mappings per SURVEY.md §2.3: C1-C9 collapse to these five columns
with the official connector's updateDescription/fullDocument surface).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from momyre_spark.operators.cdc import merge_ops_microbatch
from momyre_spark.sinks.dialects import DIALECTS, check_ident
from momyre_spark.sinks.jdbc_upsert import (
    ConnFactory,
    _progress_key,
    _write_progress_in_tx,
    delete_dataframe,
    ensure_progress_table,
    read_progress,
    upsert_dataframe,
)
from momyre_spark.spec import Spec, TableSpec


def patch_partition(
    rows,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    fields: list[str],
    key: str,
    batch_id: int | None = None,
    ts_guard_col: str | None = None,
    layout: int | None = None,
) -> None:
    """Executor-side partial-update apply (reference K4, mysql.go:449-505).

    Rows carry ``__present`` (fields the patch sets). Rows are grouped by
    their present-set so each distinct shape becomes one prepared statement
    executed with executemany — batched, unlike the reference's
    per-row statements. ``layout`` (total partition count) keys the replay
    marker so a changed partition layout reapplies instead of skipping."""
    dialect = DIALECTS[dialect_name]
    check_ident(table)
    ph = dialect.ph
    try:
        from pyspark import TaskContext

        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else None
    except Exception:
        part = None
    pkey = _progress_key(f"{table}#patch", part, layout)
    conn = connection_factory()
    try:
        cur = conn.cursor()
        ensure_progress_table(cur, dialect)
        if batch_id is not None:
            seen = read_progress(cur, dialect, pkey, ph)
            if seen is not None and seen >= batch_id:
                return
        groups: dict[tuple[str, ...], list[tuple]] = {}
        for row in rows:
            present = tuple(f for f in fields if f in set(row["__present"]))
            if not present:
                continue  # no-op patch (mysql.go:478-480: empty SET skipped)
            args = tuple(row[f] for f in present)
            if ts_guard_col is not None:
                args += (row["__ts"], row[key], row["__ts"])
            else:
                args += (row[key],)
            groups.setdefault(present, []).append(args)
        for present, args in groups.items():
            sets = ", ".join(f"{dialect.q(c)} = {ph}" for c in present)
            if ts_guard_col is not None:
                sql = (
                    f"UPDATE {dialect.q(table)} SET {sets}, "
                    f"{dialect.q(ts_guard_col)} = {ph} "
                    f"WHERE {dialect.q(key)} = {ph} "
                    f"AND {dialect.q(ts_guard_col)} <= {ph}"
                )
            else:
                sql = (
                    f"UPDATE {dialect.q(table)} SET {sets} "
                    f"WHERE {dialect.q(key)} = {ph}"
                )
            cur.executemany(sql, args)
        if batch_id is not None:
            _write_progress_in_tx(cur, dialect, pkey, batch_id)
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def apply_actions(
    actions: DataFrame,
    table: TableSpec,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    batch_id: int | None = None,
    key: str = "_id",
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
) -> None:
    """Write a merge_ops_microbatch action frame to the sink.

    With ``ts_guard_col`` the actions frame must carry ``__ts`` (from
    ``merge_ops_microbatch(emit_seq=True)``) and the sink table a matching
    sequence column: every write is then guarded by the per-key high-water
    mark, making stale UPDATES/UPSERTS no-ops under OUT-OF-ORDER cross-batch
    delivery (reordered Kafka partitions, replayed ranges) — a failure mode
    the reference's totally-ordered oplog could never produce.

    RESURRECTION WINDOW and ``tombstone_col``: a guarded DELETE physically
    removes the row *and therefore its high-water mark*; a stale upsert
    arriving after that delete finds no row to compare against and
    re-inserts it. Passing ``tombstone_col`` (requires ``ts_guard_col``)
    closes the window: deletes become guarded soft-delete upserts that keep
    the key + high-water mark with ``tombstone_col = 1``, upserts write
    ``tombstone_col = 0``, and a stale upsert after a newer delete is
    correctly rejected by the guard. Readers must filter
    ``tombstone_col = 0``; compact flagged rows later with
    ``sinks.jdbc_upsert.purge_tombstones``. Without ``tombstone_col``,
    deployments whose transport can reorder a delete before an older upsert
    should keep per-key ordering in the transport (Kafka key-partitioning
    does)."""
    if tombstone_col is not None and ts_guard_col is None:
        raise ValueError("tombstone_col requires ts_guard_col")
    fields = [c for c in table.sql_columns if c != key]
    guard_cols = ["__ts"] if ts_guard_col else []
    upsert_sel = [key, *fields] + (
        [F.col("__ts").alias(ts_guard_col)] if ts_guard_col else []
    )
    if tombstone_col is not None:
        upsert_sel.append(F.lit(0).alias(tombstone_col))
    upserts = actions.filter(F.col("__action") == "upsert").select(*upsert_sel)
    patches = actions.filter(F.col("__action") == "patch").select(
        key, "__present", *guard_cols, *fields
    )
    deletes = actions.filter(F.col("__action") == "delete").select(
        key, *guard_cols
    )

    upsert_dataframe(
        upserts,
        connection_factory=connection_factory,
        dialect_name=dialect_name,
        table=table.name,
        key=key,
        batch_id=batch_id,
        num_partitions=num_partitions,
        ts_guard_col=ts_guard_col,
    )
    if num_partitions:
        patches = patches.coalesce(num_partitions)
    patch_rdd = patches.rdd
    patch_layout = patch_rdd.getNumPartitions()
    patch_rdd.foreachPartition(
        lambda rows: patch_partition(
            rows,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            table=table.name,
            fields=fields,
            key=key,
            batch_id=batch_id,
            ts_guard_col=ts_guard_col,
            layout=patch_layout,
        )
    )
    if tombstone_col is not None:
        # soft delete: a guarded upsert that keeps the key + high-water mark
        # with the tombstone flag set — closes the resurrection window
        tombstones = deletes.select(
            key,
            F.col("__ts").alias(ts_guard_col),
            F.lit(1).alias(tombstone_col),
        )
        upsert_dataframe(
            tombstones,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            table=table.name,
            key=key,
            batch_id=batch_id,
            num_partitions=num_partitions,
            ts_guard_col=ts_guard_col,
            progress_label=f"{table.name}#tombstone",
        )
    else:
        delete_dataframe(
            deletes,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            table=table.name,
            key=key,
            num_partitions=num_partitions,
            ts_guard_col=ts_guard_col,
        )


def _merge_per_table(
    batch_df: DataFrame,
    spec: Spec,
    apply: Callable[[TableSpec, dict[str, str], DataFrame], None],
    *,
    order: Sequence[str] | None = None,
    ns_col: str = "ns",
    emit_seq: bool = False,
) -> None:
    """Route one micro-batch of ops by namespace, merge each table's ops to
    one action per key, and hand ``apply(table_spec, fields, actions)`` the
    result — the routing both CDC streams (sink and lake) share.

    The batch is persisted for the duration of the apply: each table's
    branch filters the same frame, and without the persist a 10-table spec
    would re-read/re-decode the micro-batch 10 times.

    ``order=None`` (default) auto-selects the tie-breakers the IR carries:
    ``seq`` (txn-unwrap array position, sources/opslog.py C8 — inner
    applyOps ops share the outer ts) and ``tok`` (connector resume token,
    sources/mongo.py — txn events share one clusterTime), giving
    ``("ts", "seq", "tok")`` / ``("ts", "seq")`` / ``("ts",)``."""
    if order is None:
        order = tuple(
            c for c in ("ts", "seq", "tok") if c in batch_df.columns
        )
    multi_table = len(spec.tables) > 1
    if multi_table:
        batch_df = batch_df.persist()
    try:
        for tname, tspec in spec.tables.items():
            ops = batch_df.filter(F.col(ns_col) == tname)
            fields = {c: t for c, t in tspec.sql_columns.items() if c != "_id"}
            actions = merge_ops_microbatch(
                ops, fields, key="_id", order=order, emit_seq=emit_seq,
            )
            apply(tspec, fields, actions)
    finally:
        if multi_table:
            batch_df.unpersist()


def apply_ops_microbatch(
    batch_df: DataFrame,
    batch_id: int,
    spec: Spec,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    order: Sequence[str] | None = None,
    ns_col: str = "ns",
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
) -> None:
    """foreachBatch body of the sink stream: ``_merge_per_table`` routing,
    then ``apply_actions`` per table."""

    def apply(tspec: TableSpec, _fields, actions: DataFrame) -> None:
        apply_actions(
            actions,
            tspec,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            batch_id=batch_id,
            num_partitions=num_partitions,
            ts_guard_col=ts_guard_col,
            tombstone_col=tombstone_col,
        )

    _merge_per_table(
        batch_df, spec, apply, order=order, ns_col=ns_col,
        emit_seq=ts_guard_col is not None,
    )


def start_cdc_stream(
    ops_stream: DataFrame,
    spec: Spec,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    checkpoint_dir: str,
    order: Sequence[str] | None = None,
    trigger: dict[str, Any] | None = None,
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
):
    """Wire the streaming query (reference O5 consume loop, run.go:297-335).

    The Structured Streaming checkpoint dir replaces the reference's
    ``momyre.timestamp`` resume token (S4/K6) for source offsets; the
    per-batch progress markers in the sink give exactly-once apply.
    ``ts_guard_col``/``tombstone_col``: see apply_actions — sequence-guarded
    writes and soft deletes for out-of-order transports."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_ops_microbatch(
            batch_df,
            batch_id,
            spec,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            order=order,
            num_partitions=num_partitions,
            ts_guard_col=ts_guard_col,
            tombstone_col=tombstone_col,
        )

    return _start_foreach_batch(ops_stream, handle, checkpoint_dir, trigger)


def _start_foreach_batch(ops_stream, handle, checkpoint_dir, trigger):
    writer = (
        ops_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def supervise(
    start_query,
    max_restarts: int = -1,
    backoff_seconds: float = 5.0,
    on_failure=None,
):
    """Restart-forever supervision (reference O5: the endless tailing-cursor
    restart loop, run.go:330-335).

    ``start_query``: zero-arg callable returning a StreamingQuery (it must
    reuse the same checkpoint dir, so each restart resumes from the last
    committed offsets and the sink's batch-progress markers absorb any
    replayed batch). ``max_restarts < 0`` = forever. Returns the number of
    restarts performed once the query ends cleanly or the budget is spent.
    """
    import time as _time

    restarts = 0
    while True:
        query = start_query()
        try:
            query.awaitTermination()
            return restarts  # clean stop
        except Exception as exc:  # failed batch / source error
            if on_failure is not None:
                on_failure(exc)
            if max_restarts >= 0 and restarts >= max_restarts:
                raise
            restarts += 1
            _time.sleep(backoff_seconds)


def start_cdc_lake_stream(
    ops_stream: DataFrame,
    spec: Spec,
    *,
    lake_root: str,
    checkpoint_dir: str,
    order: Sequence[str] | None = None,
    ns_col: str = "ns",
    partition_by: dict[str, list[str]] | None = None,
    trigger: dict[str, Any] | None = None,
    versioned: bool = True,
):
    """CDC stream into the LAKE: each micro-batch merges per-table actions
    into the snapshot store at ``{lake_root}/{table}`` as a new version
    (sinks/snapshots.snapshot_merge_cdc), so replicated tables are directly
    scannable and time-travelable without an RDBMS in the loop. Pair with
    periodic compaction/vacuum (CLI ``--mode maintain``). ``partition_by``
    optionally maps table -> partition columns for affected-partition-only
    rewrites. The epoch id recorded in each manifest makes a replayed batch
    skip instead of re-committing an identical version. ``versioned`` only
    accepts ``True``; it is kept for callers that still pass it."""
    if not versioned:
        raise ValueError("momyre: the snapshot store is the only lake sink")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # looked up per batch so a replaced snapshot_merge_cdc takes effect
        from momyre_spark.sinks import snapshots

        def merge(tspec: TableSpec, fields, actions: DataFrame) -> None:
            snapshots.snapshot_merge_cdc(
                batch_df.sparkSession,
                f"{lake_root}/{tspec.name}",
                actions,
                fields,
                key="_id",
                partition_by=(partition_by or {}).get(tspec.name),
                batch_id=batch_id,
            )

        _merge_per_table(batch_df, spec, merge, order=order, ns_col=ns_col)

    return _start_foreach_batch(ops_stream, handle, checkpoint_dir, trigger)
