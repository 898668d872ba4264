"""Structured Streaming CDC pipeline (reference §3.2 steady state).

The reference's steady state is: tailable oplog cursor -> decode -> one MySQL
txn per entry, sequential (``run.go:297-335``). Here the same contract is a
Structured Streaming query:

    ops stream -> foreachBatch (apply_ops_microbatch):
        every table's ops in ONE shuffle by (ns, _id)
        (operators/cdc.merge_ops_tables: one final action per key)
        -> ONE writer pass (sinks/jdbc_upsert.apply_actions): each partition
           applies its upserts (whole rows), patches (present fields only)
           and deletes, for every table, in one transaction that also
           records the batch id — exactly-once apply.

Ordering: the reference relies on a single sequential applier; the engine
instead collapses each batch to one action per key *before* writing (order-
insensitive within the batch), and Structured Streaming guarantees batch
serialization — batch N+1 never starts before N commits. Replay after crash
re-delivers a completed batch; the in-txn progress marker makes that a no-op.

Sequence guard (``ts_guard_col``): the action frame carries ``__ts``, the
per-key high-water mark, and the sink table a matching column that guards
every write, so stale UPDATES/UPSERTS are no-ops under OUT-OF-ORDER
cross-batch delivery (reordered Kafka partitions, replayed ranges) — a
failure the reference's totally-ordered oplog never had. A guarded DELETE
removes the row *and its high-water mark*, so a stale upsert after it
re-inserts the row; ``tombstone_col`` (requires ``ts_guard_col``) closes
that window: deletes become guarded soft-delete upserts that keep the key
and mark with ``tombstone_col = 1`` (upserts write 0). Readers filter
``tombstone_col = 0``; ``sinks.jdbc_upsert.purge_tombstones`` compacts.
Without it, transports that can reorder a delete before an older upsert
should keep per-key order (Kafka key-partitioning does).

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

from momyre_spark.operators.cdc import frame_columns, merge_ops_microbatch, merge_ops_tables
from momyre_spark.sinks.dialects import DIALECTS
from momyre_spark.sinks.jdbc_upsert import ConnFactory, apply_actions
# noqa F401: not called here, but perfbench/replication.py wraps these by name
from momyre_spark.sinks.jdbc_upsert import delete_dataframe, upsert_dataframe  # noqa: F401
from momyre_spark.spec import Spec, TableSpec


def _default_order(columns: Sequence[str]) -> tuple[str, ...]:
    """The tie-breakers the IR carries: ``seq`` (txn-unwrap array position,
    sources/opslog.py C8 — inner applyOps ops share the outer ts) and
    ``tok`` (connector resume token, sources/mongo.py — txn events share one
    clusterTime), giving ``("ts", "seq", "tok")`` / ``("ts", "seq")`` /
    ``("ts",)``."""
    return tuple(c for c in ("ts", "seq", "tok") if c in columns)


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
    result — the lake stream's routing.

    The batch is persisted for the duration of the apply: each table's
    branch filters the same frame, and without the persist a 10-table spec
    would re-read/re-decode the micro-batch 10 times.

    ``order=None`` (default) auto-selects the tie-breakers (see
    :func:`_default_order`)."""
    if order is None:
        order = _default_order(batch_df.columns)
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
) -> list:
    """foreachBatch body of the sink stream: every table's ops merged in one
    shuffle, hash-partitioned into the writer's partitions
    (``num_partitions``, else the dialect's cap — one for sqlite, whose
    writers only queue on its file lock — else the shuffle partitions),
    then applied by one ``apply_actions`` pass, one transaction per
    partition. Returns its status rows.
    ``order=None`` auto-selects the tie-breakers (:func:`_default_order`);
    ``ts_guard_col``/``tombstone_col``: see the module docstring."""
    tables = {
        name: {c: t for c, t in tspec.sql_columns.items() if c != "_id"}
        for name, tspec in spec.tables.items()
    }
    n = (num_partitions or DIALECTS[dialect_name].max_writers
         or int(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    actions = merge_ops_tables(
        batch_df, tables, ns_col=ns_col,
        order=order or _default_order(batch_df.columns),
        emit_seq=ts_guard_col is not None, partitions=n,
    )
    return apply_actions(
        actions,
        frame_columns(tables),
        connection_factory=connection_factory,
        dialect_name=dialect_name,
        batch_id=batch_id,
        num_partitions=n,
        layout=n,
        ts_guard_col=ts_guard_col,
        tombstone_col=tombstone_col,
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
    ``ts_guard_col``/``tombstone_col``: see the module docstring —
    sequence-guarded writes and soft deletes for out-of-order transports."""

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
