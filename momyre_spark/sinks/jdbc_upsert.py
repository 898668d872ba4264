"""Transactional sink writer with in-transaction checkpointing.

Re-expression of the reference's write path (``/root/reference/app/mysql.go``):
upsert ``upsertRow``/``appendRow`` (K2/K3, mysql.go:357-431), patch
``updateRow`` (K4, mysql.go:449-505) and delete ``deleteRow`` (K5,
mysql.go:507-534) — one row, one statement, one txn there — and the
``momyre(name,value)`` checkpoint bumped INSIDE the data transaction (K1/K6,
``updateTimestampInTx``, mysql.go:563-588).

Here ONE executor-side writer, :func:`write_actions`, applies a partition of
an *action frame* — columns ``__table``, the key, ``__action`` (upsert,
patch or delete), ``__present`` (the fields a patch sets), an optional
``__ts`` (the sequence guard's value) and the typed fields — read as Arrow
batches (``mapInArrow``). Every table and kind of the partition goes into
ONE transaction with ONE progress marker per (writer label, partition,
layout, batch), so a replayed partition is skipped: exactly-once under
Structured Streaming's at-least-once ``foreachBatch``. Each partition
returns a status row: rows written per table and kind, guard rejections
and the max ``__ts``. :func:`apply_actions` is the driver entry; the CDC
microbatch, the engine's cold start and backfill, and the single-kind
:func:`upsert_dataframe`/:func:`delete_dataframe` all go through it.

Marker keys: ``apply:{label}:p{part}of{layout}`` for the multi-table writer
(label: the '+'-joined table names) and, unchanged, ``batch:{label}:p…``
for single-kind upserts; ``:`` keeps both apart from any table name. UPGRADE
NOTE: the CDC stream no longer reads the per-table markers of earlier builds
(``batch:{table}:p…``, ``{table}#patch``, ``{table}#tombstone``), so the
batch in flight at the upgrade re-applies once — idempotently, as upserts,
patches, deletes and their guarded forms are.

Connections come from a picklable zero-arg ``connection_factory`` (sqlite
in tests, ``mysql.connector``/``pymysql`` partials in production).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator, Mapping
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from momyre_spark.sinks.dialects import DIALECTS, Dialect, check_ident

PROGRESS_TABLE = "momyre_progress"  # analog of the `momyre` table (mysql.go:128-144)

ConnFactory = Callable[[], Any]

# one row per writer partition (see write_actions)
STATUS_SCHEMA = (
    "part int, skipped boolean, written map<string,bigint>, "
    "rejected bigint, max_ts bigint"
)


def ensure_progress_table(cur: Any, dialect: Dialect) -> None:
    """D4: bootstrap the checkpoint table (mysql.go:87-107,128-144)."""
    q = dialect.q
    cur.execute(
        f"CREATE TABLE IF NOT EXISTS {q(PROGRESS_TABLE)} "
        f"({q('name')} VARCHAR(128) PRIMARY KEY, {q('value')} VARCHAR(64))"
    )


def read_progress(cur: Any, dialect: Dialect, name: str, ph: str = "?") -> int | None:
    """S4: read a resume point (mysql.go:108-123). None = from scratch."""
    q = dialect.q
    cur.execute(
        f"SELECT {q('value')} FROM {q(PROGRESS_TABLE)} WHERE {q('name')} = {ph}",
        (name,),
    )
    row = cur.fetchone()
    return int(row[0]) if row else None


def _write_progress_in_tx(cur: Any, dialect: Dialect, name: str, batch_id: int) -> None:
    """K6: checkpoint bump inside the open data transaction."""
    sql = dialect.upsert_sql(PROGRESS_TABLE, ["name", "value"], key="name")
    cur.execute(sql, (name, str(batch_id)))


def _partition_id() -> int | None:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else None


def writer_label(tables: Iterable[str]) -> str:
    """Default label of the multi-table writer's markers: the table names,
    hashed when the key would not fit the marker column."""
    label = "+".join(sorted(tables))
    if len(label) > 96:
        label = hashlib.md5(label.encode("utf-8")).hexdigest()
    return f"apply:{label}"


def _pylist(arr) -> list:
    """Arrow column -> the Python values a pickled ``Row`` would carry
    (session-zone timestamps become naive local datetimes)."""
    import pyarrow as pa

    vals = arr.to_pylist()
    if pa.types.is_timestamp(arr.type) and arr.type.tz is not None:
        vals = [v if v is None else v.astimezone().replace(tzinfo=None) for v in vals]
    return vals


def _action_sql(dialect: Dialect, table: str, fields: list[str], kind: str,
                shape: tuple, key: str, guard: str | None, tomb: str | None) -> str:
    """The statement of one (table, kind, patched field set)."""
    q, ph = dialect.q, dialect.ph
    if kind == "patch":
        sets = ", ".join(f"{q(c)} = {ph}" for c in shape + ((guard,) if guard else ()))
        sql = f"UPDATE {q(table)} SET {sets} WHERE {q(key)} = {ph}"
        return sql + (f" AND {q(guard)} <= {ph}" if guard else "")
    if kind == "delete" and not tomb:
        return (dialect.guarded_delete_sql(table, key, guard) if guard
                else dialect.delete_sql(table, key))
    cols = [key, *(fields if kind == "upsert" else []), *filter(None, (guard, tomb))]
    return (dialect.guarded_upsert_sql(table, cols, key, guard) if guard
            else dialect.upsert_sql(table, cols, key))


def write_actions(
    batches: Iterator,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    tables: Mapping[str, Mapping[str, str]],
    key: str = "_id",
    batch_id: int | None = None,
    layout: int | None = None,
    marker: str | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
    batch_size: int = 1000,
) -> Iterator:
    """Executor-side body: apply one partition of an action frame in ONE
    transaction and yield its status row.

    ``tables`` maps each table to ``{sink column: frame column}`` of its
    fields. Upserts write the whole row; patches write the ``__present``
    fields only, one prepared statement per distinct field set (the empty
    set is a no-op, mysql.go:478-480); deletes remove the key. With
    ``ts_guard_col`` every statement is guarded by the per-key high-water
    mark ``__ts``; with ``tombstone_col`` too, deletes become guarded
    soft-delete upserts (see ``streaming.pipeline`` for both). With
    ``batch_id`` and ``marker`` the transaction also records
    ``{marker}:p{part}of{layout}``; a stored id >= ``batch_id`` means an
    earlier attempt committed this partition, and it is skipped. ``layout``
    (the partition count) is in the key because a replay under another
    row-to-partition layout must reapply (idempotent), not skip rows it
    never applied."""
    import pyarrow as pa

    dialect = DIALECTS[dialect_name]
    guard, tomb = ts_guard_col, tombstone_col
    part = _partition_id()
    pkey = f"{marker}:p{part}of{layout}" if batch_id is not None and marker else None
    sqls: dict[tuple, str] = {}
    pending: dict[str, list[tuple]] = {}
    written: dict[str, int] = {}
    rejected, max_ts, skipped = 0, None, False

    def run(cur, sql: str) -> None:
        nonlocal rejected
        args = pending.pop(sql)
        cur.executemany(sql, args)
        if guard and cur.rowcount is not None and cur.rowcount >= 0:
            rejected += max(len(args) - cur.rowcount, 0)

    conn = connection_factory()
    try:
        cur = conn.cursor()
        if pkey is not None:
            ensure_progress_table(cur, dialect)
            seen = read_progress(cur, dialect, pkey, dialect.ph)
            skipped = seen is not None and seen >= batch_id
        for rb in batches:
            if skipped:
                continue  # replayed partition: already applied
            col = {n: _pylist(rb.column(i)) for i, n in enumerate(rb.schema.names)}
            ts = col.get("__ts")
            for i in range(rb.num_rows):
                table, kind, k = col["__table"][i], col["__action"][i], col[key][i]
                fcols = tables[table]
                g = (ts[i],) if guard else ()
                shape: tuple = ()
                if kind == "patch":
                    present = set(col["__present"][i] or ())
                    shape = tuple(c for c in fcols if c in present)
                    if not shape:
                        continue
                    args = (*(col[fcols[c]][i] for c in shape), *g, k, *g)
                elif kind == "upsert":
                    args = (k, *(col[c][i] for c in fcols.values()), *g) + (
                        (0,) if tomb else ())
                elif kind == "delete":
                    args = (k, *g) + ((1,) if tomb else ())
                else:
                    raise ValueError(f"momyre: unknown sink action {kind!r}")
                if ts is not None and ts[i] is not None:
                    max_ts = ts[i] if max_ts is None else max(max_ts, ts[i])
                sql = sqls.get((table, kind, shape))
                if sql is None:
                    sql = sqls[(table, kind, shape)] = _action_sql(
                        dialect, table, list(fcols), kind, shape, key, guard, tomb)
                pending.setdefault(sql, []).append(args)
                written[f"{table}:{kind}"] = written.get(f"{table}:{kind}", 0) + 1
                if len(pending[sql]) >= batch_size:
                    run(cur, sql)
        if not skipped:
            for sql in list(pending):
                run(cur, sql)
            if pkey is not None:
                _write_progress_in_tx(cur, dialect, pkey, batch_id)
            conn.commit()
    except Exception:
        conn.rollback()  # mysql.go:301-306 rollback-on-error
        raise
    finally:
        conn.close()
    yield pa.RecordBatch.from_pydict(
        {"part": [part], "skipped": [skipped], "written": [list(written.items())],
         "rejected": [rejected], "max_ts": [max_ts]},
        schema=pa.schema([
            ("part", pa.int32()), ("skipped", pa.bool_()),
            ("written", pa.map_(pa.string(), pa.int64())),
            ("rejected", pa.int64()), ("max_ts", pa.int64()),
        ]),
    )


def apply_actions(
    actions: DataFrame,
    tables: Mapping[str, Mapping[str, str]],
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    batch_id: int | None = None,
    key: str = "_id",
    num_partitions: int | None = None,
    layout: int | None = None,
    marker: str | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
) -> list:
    """Apply an action frame (see :func:`write_actions`) to the sink in one
    Spark pass; returns the status rows, one per partition.

    ``num_partitions`` (else the dialect's cap) coalesces the frame: it caps
    sink concurrency. With ``batch_id`` the markers are keyed by
    ``layout``, the frame's partition count: pass it when the caller fixed
    it (a keyed repartition), since asking Spark for it executes any
    adaptive shuffle below. ``marker`` defaults to :func:`writer_label`."""
    if tombstone_col is not None and ts_guard_col is None:
        raise ValueError("tombstone_col requires ts_guard_col")
    if ts_guard_col is not None and "__ts" not in actions.columns:
        raise ValueError("ts_guard_col needs the frame's __ts column")
    cap = num_partitions or DIALECTS[dialect_name].max_writers
    if cap:
        actions = actions.coalesce(cap)
    if batch_id is not None and layout is None:
        layout = actions.rdd.getNumPartitions()
    kwargs = dict(
        connection_factory=connection_factory, dialect_name=dialect_name,
        tables={t: dict(f) for t, f in tables.items()}, key=key,
        batch_id=batch_id, layout=layout,
        marker=marker or writer_label(tables),
        ts_guard_col=ts_guard_col, tombstone_col=tombstone_col,
    )
    return actions.mapInArrow(
        lambda batches: write_actions(batches, **kwargs), STATUS_SCHEMA
    ).collect()


def _rows_partition(
    rows: Iterable,
    *,
    connection_factory: ConnFactory,
    sql: str,
    columns: list[str],
    batch_size: int = 1000,
) -> None:
    """Executor-side body of the combining upsert's row writes (the direct
    merge, or the staging phase): ``sql`` over one partition's rows, in
    batches of ``executemany``, in one transaction."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        buf: list[tuple] = []
        for row in rows:
            buf.append(tuple(row[c] for c in columns))
            if len(buf) >= batch_size:
                cur.executemany(sql, buf)
                buf.clear()
        if buf:
            cur.executemany(sql, buf)
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def merge_upsert_dataframe(
    df: DataFrame,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    merge: dict[str, str],
    key: str = "_id",
    batch_id: int | None = None,
    num_partitions: int | None = None,
    progress_label: str | None = None,
) -> None:
    """Distributed combining upsert (sink half of operators/incremental.py):
    each row folds into the maintained aggregate row for its key.

    With ``batch_id`` set this uses a STAGED two-phase protocol, because
    combining merges (sum) are not idempotent and per-partition replay
    markers are layout-dependent — a replayed batch whose rows land in
    different partitions (changed num_partitions, shuffle conf, AQE
    coalescing across a restart) would miss the old markers and
    double-apply:

    1. executors replace-upsert the deltas into ``{table}__stage`` keyed
       ``(__batch_id, key)`` — idempotent under any re-delivery/layout;
    2. the driver, in ONE transaction: checks the per-(table, batch)
       marker, applies staging -> target as a single set-based combining
       INSERT..SELECT, records the marker, and purges the staged batch.

    Either the whole batch's merge and its marker commit together, or
    neither does. Without ``batch_id`` the deltas are applied directly
    (no replay protection — caller owns delivery semantics)."""
    columns = df.columns
    if key not in columns:
        raise ValueError(f"key column {key!r} not in DataFrame ({columns})")
    unknown = set(merge) - set(columns)
    if unknown:
        raise ValueError(f"merge columns not in DataFrame: {sorted(unknown)}")
    if num_partitions:
        df = df.coalesce(num_partitions)

    dialect = DIALECTS[dialect_name]
    check_ident(table)
    if batch_id is None:
        sql = dialect.merge_upsert_sql(table, columns, key, merge)
        df.rdd.foreachPartition(
            lambda rows: _rows_partition(
                rows, connection_factory=connection_factory, sql=sql,
                columns=columns,
            )
        )
        return

    ph = dialect.ph
    # The staging table is scoped to the WRITER (progress_label), not just
    # the target table: two streams merging into one table would otherwise
    # share a stage, replace-upsert over each other's (batch_id, key) rows,
    # and purge each other's staged batches before phase 2 applied them.
    # Labels are free-form strings, so non-default labels get a hex suffix
    # rather than appearing in the identifier.
    # UPGRADE NOTE: deployments that ran a pre-suffix build with a
    # non-default progress_label staged into the SHARED `table__stage`;
    # phase 2 now reads `table__stage_<hex>`, so an in-flight batch staged
    # by the old build (crash between phase 1 and phase 2) would be
    # orphaned. Drain in-flight batches (let phase 2 complete) before
    # upgrading a live sink, or replay the last micro-batch after upgrade
    # (staging replace-upsert on (batch_id, key) makes the replay safe).
    if progress_label and progress_label != table:
        suffix = hashlib.md5(progress_label.encode("utf-8")).hexdigest()[:8]
        stage = f"{table}__stage_{suffix}"
    else:
        stage = f"{table}__stage"
    check_ident(stage)
    bkey = f"batch:{progress_label or table}"

    # Combining merges are ASSOCIATIVE per column (sum/min/max), so deltas
    # are pre-folded to ONE row per key before staging: the staging table's
    # replace-upsert on (batch_id, key) would otherwise keep only the last
    # duplicate and silently drop the rest of the key's deltas.
    folds = {"sum": F.sum, "min": F.min, "max": F.max}
    unknown_fold = sorted(
        {f for f in merge.values() if f not in folds and f != "replace"}
    )
    if unknown_fold:
        raise ValueError(
            f"merge functions must be associative for staging: {unknown_fold}"
        )
    agg_cols = [c for c, f in merge.items() if f in folds]
    # 'replace' merge columns and non-merged columns both carry replace
    # semantics on conflict. They are folded as ONE WHOLE ROW (max_by over
    # the ordered struct of the fold columns) — per-column max would
    # synthesize a row mixing values from different deltas (and fails on
    # unorderable types like maps). Ties on the fold key pick either of the
    # (then equal-weight) rows.
    row_cols = [c for c in columns if c != key and c not in agg_cols]
    aggs = [folds[merge[c]](c).alias(c) for c in agg_cols]
    if row_cols:
        if agg_cols:
            ord_key = F.struct(*[F.col(c) for c in agg_cols])
        else:
            ord_key = F.lit(1)
        aggs.append(
            F.max_by(F.struct(*[F.col(c) for c in row_cols]), ord_key).alias(
                "__row"
            )
        )
        df = df.groupBy(key).agg(*aggs).select(
            key,
            *agg_cols,
            *[F.col(f"__row.{c}").alias(c) for c in row_cols],
        ).select(*columns)
    else:
        df = df.groupBy(key).agg(*aggs).select(*columns)
    if num_partitions:
        # the fold reshuffled to spark.sql.shuffle.partitions; re-apply the
        # caller's sink-connection cap before executors open connections
        df = df.coalesce(num_partitions)

    # phase 0 (driver): skip an already-applied batch; bootstrap staging DDL
    conn = connection_factory()
    try:
        cur = conn.cursor()
        ensure_progress_table(cur, dialect)
        seen = read_progress(cur, dialect, bkey, ph)
        if seen is not None and seen >= batch_id:
            conn.commit()
            return  # replayed batch — already merged
        stage_cols = [("__batch_id", "bigint")] + df.dtypes
        cur.execute(
            dialect.create_staging_sql(stage, stage_cols, ["__batch_id", key])
        )
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()

    # phase 1 (executors): idempotent staging writes
    staged = df.withColumn("__batch_id", F.lit(batch_id).cast("bigint"))
    all_cols = ["__batch_id", *columns]
    sql = dialect.upsert_sql_multi(stage, all_cols, ["__batch_id", key])
    staged.select(*all_cols).foreachPartition(
        lambda rows: _rows_partition(
            rows, connection_factory=connection_factory, sql=sql, columns=all_cols,
        )
    )

    # phase 2 (driver, one txn): marker-gated set-based apply + purge
    conn = connection_factory()
    try:
        cur = conn.cursor()
        seen = read_progress(cur, dialect, bkey, ph)
        if seen is None or seen < batch_id:
            cur.execute(
                dialect.merge_from_staging_sql(
                    table, stage, columns, key, merge
                ),
                (batch_id,),
            )
            _write_progress_in_tx(cur, dialect, bkey, batch_id)
            cur.execute(dialect.purge_staging_sql(stage), (batch_id,))
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def purge_tombstones(
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    tombstone_col: str,
    ts_guard_col: str,
    older_than: int,
) -> int:
    """Compact soft-deleted rows: physically DELETE rows flagged by
    ``tombstone_col`` whose high-water mark is older than ``older_than``.

    Run this as periodic maintenance once the retention window exceeds the
    transport's maximum reorder horizon — after that, no stale upsert for
    the key can still arrive, so dropping the tombstone (and its guard ts)
    is safe. Returns the number of rows purged. Driver-side single
    statement: the flagged set is bounded by delete traffic, not table
    size, and the sink indexes the primary key, not the flag."""
    dialect = DIALECTS[dialect_name]
    check_ident(table)
    ph = dialect.ph
    q = dialect.q
    conn = connection_factory()
    try:
        cur = conn.cursor()
        cur.execute(
            f"DELETE FROM {q(table)} WHERE {q(tombstone_col)} = 1 "
            f"AND {q(ts_guard_col)} < {ph}",
            (older_than,),
        )
        n = cur.rowcount
        conn.commit()
        return n if n is not None else 0
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def upsert_dataframe(
    df: DataFrame,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    key: str = "_id",
    batch_id: int | None = None,
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    progress_label: str | None = None,
) -> list:
    """Distributed upsert of ``df``'s rows: every partition one transaction.

    At scale, ``num_partitions`` caps sink concurrency (a thousand executors
    hammering one MySQL is the actual bottleneck — the reference never had
    the problem because it was single-threaded). ``ts_guard_col`` names the
    frame's sequence column; with ``batch_id`` the markers stay
    ``batch:{progress_label or table}:p{part}of{layout}``."""
    if key not in df.columns:
        raise ValueError(f"key column {key!r} not in DataFrame ({df.columns})")
    fields = [c for c in df.columns if c not in (key, ts_guard_col)]
    if ts_guard_col is not None:
        df = df.withColumnRenamed(ts_guard_col, "__ts")
    return apply_actions(
        df.select(F.lit(table).alias("__table"), F.lit("upsert").alias("__action"), "*"),
        {table: {c: c for c in fields}},
        connection_factory=connection_factory, dialect_name=dialect_name,
        batch_id=batch_id, key=key, num_partitions=num_partitions,
        marker=f"batch:{progress_label or table}", ts_guard_col=ts_guard_col,
    )


def delete_dataframe(
    df: DataFrame,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    key: str = "_id",
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
) -> list:
    """Distributed delete of ``df``'s keys (guarded by its ``__ts`` column
    with ``ts_guard_col``)."""
    cols = [key] if ts_guard_col is None else [key, "__ts"]
    return apply_actions(
        df.select(F.lit(table).alias("__table"), F.lit("delete").alias("__action"), *cols),
        {table: {}},
        connection_factory=connection_factory, dialect_name=dialect_name,
        key=key, num_partitions=num_partitions, ts_guard_col=ts_guard_col,
    )
