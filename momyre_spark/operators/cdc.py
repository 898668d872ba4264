"""CDC apply semantics, re-expressed order-insensitively for Spark.

The reference applies its ops log strictly sequentially — one goroutine, one
MySQL transaction per oplog entry (``/root/reference/app/run.go:301-322``,
``mysql.go:292-355``). That gives correctness via total order but caps
throughput at 1. The Spark-native equivalent reduces a batch of ops to the
*final state per key* before writing, which is order-insensitive within the
batch and therefore embarrassingly parallel: one shuffle by ``_id``, then a
single aggregate — no sequential anything.

Semantics preserved from the reference (SURVEY.md §2.3/§2.7):
- ``insert`` replaces the whole row (mysql.go:376-431 appendRow / upsert);
- ``update`` merges only the fields present in the op's payload; untouched
  fields survive (mysql.go:449-476 updateRow builds SET only from present
  fields); a field explicitly set to JSON ``null`` becomes NULL (distinct
  from "absent");
- ``delete`` removes the key (mysql.go:507-534 deleteRow);
- updates/deletes targeting a key whose latest reset is a delete (or that was
  never inserted) are no-ops — exactly like an UPDATE/DELETE matching 0 rows
  in MySQL;
- replay idempotence: re-applying any suffix of the log yields the same final
  state (run.go:210-212 relies on the same property).

Algorithm (all JVM-side built-ins — no UDFs, no driver collect, ONE shuffle):

The key insight making a single aggregation pass sufficient: an *insert
semantically mentions every declared field* (absent fields are set to NULL,
mysql.go:381-407). Rewriting each op's payload that way means "latest op
mentioning field f" alone yields the correct final value — an insert
dominates every older update (field-wise), later updates override it, and
no per-key reset boundary has to be materialized first. Per key, one
aggregate computes:

1. the latest reset op (insert/delete) via ``max_by(op, seq | resets)`` —
   keys whose latest reset is not an insert are dropped (never-inserted and
   deleted keys, including update-after-delete no-ops);
2. each field as ``max_by(payload[f], seq | payload mentions f)``;
3. cast to the declared sink type (SURVEY.md §1.2 type mapping).

Cost model at 100 TB: one hash-partition by ``_id`` into one hash aggregate
with map-side partial aggregation; payload maps stay columnar; no window
sort, no self-join, no second exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

INSERT, UPDATE, DELETE = "insert", "update", "delete"


def latest_state_per_key(
    df: DataFrame, key: str | Sequence[str], order: Sequence[str]
) -> DataFrame:
    """Last-writer-wins row per key (reference K1 collapsed per batch).

    ``order`` must be a deterministic total order within each key (e.g.
    ``["ts", "event_id"]`` — the reference's resume token ``T<<32|I`` is the
    same idea, mongo.go:171).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _seq(order: Sequence[str]) -> Column:
    cols = [F.col(c) for c in order]
    return cols[0] if len(cols) == 1 else F.struct(*cols)


def _with_normalized_payload(
    ops: DataFrame,
    fields: dict[str, str],
    op_col: str,
    payload_col: str,
    order: Sequence[str],
) -> DataFrame:
    """Parse the payload and rewrite it so inserts mention every declared
    field (absent -> NULL), updates keep their partial maps, deletes mention
    nothing. Adds ``__seq``. This normalization is what lets the merge run
    as a single aggregation (see module docstring)."""
    payload_t = dict(ops.dtypes).get(payload_col, "string")
    if payload_t == "string":
        ops = ops.withColumn(payload_col, F.from_json(payload_col, "map<string,string>"))
    names = F.array(*[F.lit(f) for f in fields])
    full = F.map_from_arrays(
        names,
        F.transform(names, lambda f: F.element_at(F.col(payload_col), f)),
    )
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    return ops.withColumn(
        payload_col,
        F.when(F.col(op_col) == INSERT, full)
        .when(F.col(op_col) == UPDATE, F.col(payload_col))
        .otherwise(empty),
    ).withColumn("__seq", _seq(order))


def apply_ops(
    ops: DataFrame,
    fields: dict[str, str],
    key: str = "_id",
    op_col: str = "op",
    payload_col: str = "payload",
    order: Sequence[str] = ("ts",),
) -> DataFrame:
    """Reduce an ops log to the final table state.

    Parameters
    ----------
    ops
        DataFrame with columns ``key``, ``op_col`` (insert/update/delete),
        ``payload_col`` and the ``order`` columns. ``payload_col`` is either a
        ``map<string,string>`` column or a JSON-text column (parsed here —
        a JSON ``null`` value keeps its key in the map, preserving the
        "set to null" vs "absent" distinction).
    fields
        Declared sink columns: name -> Spark SQL type string (the engine's
        analog of the reference's YAML column map, momyre.yml:3-15).
    """
    ops = _with_normalized_payload(ops, fields, op_col, payload_col, order)
    merge_aggs = [
        F.max_by(
            F.element_at(F.col(payload_col), F.lit(f)),
            F.when(F.map_contains_key(F.col(payload_col), F.lit(f)), F.col("__seq")),
        )
        .cast(t)
        .alias(f)
        for f, t in fields.items()
    ]
    reset_op = F.max_by(
        F.col(op_col), F.when(F.col(op_col).isin(INSERT, DELETE), F.col("__seq"))
    ).alias("__reset_op")
    return (
        ops.groupBy(key)
        .agg(reset_op, *merge_aggs)
        .filter(F.col("__reset_op") == INSERT)
        .drop("__reset_op")
    )


def merge_ops_microbatch(
    ops: DataFrame,
    fields: dict[str, str],
    key: str = "_id",
    op_col: str = "op",
    payload_col: str = "payload",
    order: Sequence[str] = ("ts",),
    emit_seq: bool = False,
) -> DataFrame:
    """Reduce one *microbatch* of ops to per-key apply actions.

    Unlike :func:`apply_ops` (which assumes it sees the whole log), a
    microbatch may contain only partial history for a key — an update to a
    row whose insert happened in an earlier batch must become a *partial
    patch*, not a full row. Per key, the batch collapses to ONE action:

    - ``__action='upsert'``: batch contains an insert as its latest reset —
      the merged row is authoritative (absent fields -> NULL), write whole row;
    - ``__action='delete'``: latest reset is a delete with no later insert;
    - ``__action='patch'`` : updates only — merged changed fields, with
      ``__present`` listing which fields the patch actually sets (so the
      sink updates only those columns, reference K4 mysql.go:449-476).

    Output columns: key, __action, __present (array<string>), then one typed
    column per declared field. ONE shuffle by key (same normalized-payload
    single-aggregation as :func:`apply_ops`); order-insensitive;
    replay-idempotent (same batch -> same actions).
    """
    actions = merge_ops_tables(
        ops.withColumn("__ns", F.lit("t")), {"t": fields}, ns_col="__ns", key=key,
        op_col=op_col, payload_col=payload_col, order=order, emit_seq=emit_seq,
    )
    return actions.drop("__table")


def frame_columns(tables: dict[str, dict[str, str]]) -> dict[str, dict[str, str]]:
    """Per table, sink column -> column of the :func:`merge_ops_tables`
    frame. A field keeps its name unless tables declare it with different
    types; then each type gets its own column ``{field}:{n}``."""
    types: dict[str, list[str]] = {}
    for fields in tables.values():
        for f, t in fields.items():
            if t not in types.setdefault(f, []):
                types[f].append(t)
    return {
        name: {
            f: f if len(types[f]) == 1 else f"{f}:{types[f].index(t)}"
            for f, t in fields.items()
        }
        for name, fields in tables.items()
    }


def merge_ops_tables(
    ops: DataFrame,
    tables: dict[str, dict[str, str]],
    *,
    ns_col: str = "ns",
    key: str = "_id",
    op_col: str = "op",
    payload_col: str = "payload",
    order: Sequence[str] = ("ts",),
    emit_seq: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """:func:`merge_ops_microbatch` for every table of ``tables`` (name ->
    declared fields) in ONE aggregation by ``(ns_col, key)``; ops of other
    namespaces are dropped. Each table's fields are cast to its own
    declared types. Output: ``__table``, then merge_ops_microbatch's
    columns, named by :func:`frame_columns`. ``partitions`` hash-partitions
    the ops by ``(ns_col, key)`` into exactly that many partitions first,
    so the output layout is fixed (adaptive execution does not coalesce
    it) and replay markers can be keyed on it."""
    names = frame_columns(tables)
    # payload field -> {frame column: (declared type, tables declaring it)}
    outs: dict[str, dict[str, tuple[str, list[str]]]] = {}
    for tname, fields in tables.items():
        for f, t in fields.items():
            outs.setdefault(f, {}).setdefault(names[tname][f], (t, []))[1].append(tname)
    ops = ops.filter(F.col(ns_col).isin(list(tables)))
    if partitions:
        ops = ops.repartition(partitions, ns_col, key)
    ops = _with_normalized_payload(ops, outs, op_col, payload_col, order)

    field_aggs = []
    for f, cols in outs.items():
        mentioned = F.map_contains_key(F.col(payload_col), F.lit(f))
        value = F.max_by(
            F.element_at(F.col(payload_col), F.lit(f)),
            F.when(mentioned, F.col("__seq")),
        )
        # cast only for the tables declaring this type
        field_aggs += [
            F.when(F.col(ns_col).isin(owners), value.cast(t)).alias(c)
            for c, (t, owners) in cols.items()
        ]
        field_aggs.append(F.max(mentioned).alias(f"__has_{f}"))
    reset_op = F.max_by(
        F.col(op_col), F.when(F.col(op_col).isin(INSERT, DELETE), F.col("__seq"))
    ).alias("__reset_op")
    extra = []
    if emit_seq:
        # per-key high-water mark of the primary sequence column — the
        # monotonic guard for out-of-order cross-batch delivery
        extra.append(F.max(F.col(order[0])).cast("long").alias("__ts"))
    merged = ops.groupBy(ns_col, key).agg(reset_op, *field_aggs, *extra)

    # Action per key: delete keys emit only the key (updates after a delete
    # are no-ops — an UPDATE matching 0 rows in the reference); insert-reset
    # keys are authoritative whole rows; reset-less keys are partial patches.
    action = (
        F.when(F.col("__reset_op") == DELETE, F.lit(DELETE))
        .when(F.col("__reset_op") == INSERT, F.lit("upsert"))
        .otherwise(F.lit("patch"))
    )
    present = F.filter(
        F.array(
            *[
                F.when(F.col(f"__has_{f}"), F.lit(f)).otherwise(F.lit(None))
                for f in outs
            ]
        ),
        lambda x: x.isNotNull(),
    )
    is_delete = F.col("__action") == DELETE
    return merged.withColumn("__action", action).select(
        F.col(ns_col).alias("__table"),
        key,
        "__action",
        F.when(is_delete, F.array().cast("array<string>"))
        .otherwise(present)
        .alias("__present"),
        *([F.col("__ts")] if emit_seq else []),
        *[
            F.when(is_delete, F.lit(None).cast(t)).otherwise(F.col(c)).alias(c)
            for cols in outs.values()
            for c, (t, _) in cols.items()
        ],
    )
