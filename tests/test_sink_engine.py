"""Sink + DDL + engine round-trip on sqlite (no MySQL server in CI).

Exercises: distributed upsert with in-txn batch progress, replay skip,
delete, DDL reconciliation semantics (force gating, resync marking), and
the full engine batch sync (snapshot + orphan delete).
"""

from __future__ import annotations

import functools
import sqlite3

import pytest
from pyspark.sql import Row

from momyre_spark.engine import ReplicationEngine
from momyre_spark.sinks.ddl import reconcile
from momyre_spark.sinks.dialects import DIALECTS, check_ident
from momyre_spark.sinks.jdbc_upsert import (
    delete_dataframe,
    upsert_dataframe,
)
from momyre_spark.spec import parse_spec

SPEC_YAML = """
tables:
  users:
    type: varchar(100)
    email: varchar(100)
    pubkey: varchar(100)
"""


@pytest.fixture
def db(tmp_path):
    path = str(tmp_path / "sink.db")
    factory = functools.partial(sqlite3.connect, path, timeout=60)
    conn = factory()
    conn.execute(
        'CREATE TABLE "users" ("_id" varchar(24) PRIMARY KEY, '
        '"type" varchar(100), "email" varchar(100), "pubkey" varchar(100))'
    )
    conn.commit()
    conn.close()
    return factory


def all_rows(factory, table="users"):
    conn = factory()
    try:
        cur = conn.execute(f'SELECT * FROM "{table}" ORDER BY "_id"')
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        conn.close()


def test_upsert_insert_then_overwrite(spark, db):
    df = spark.createDataFrame(
        [Row(_id="a", type="admin", email="a@x", pubkey="p1"),
         Row(_id="b", type="user", email="b@x", pubkey="p2")]
    )
    upsert_dataframe(df, connection_factory=db, dialect_name="sqlite",
                     table="users", num_partitions=1)
    df2 = spark.createDataFrame([Row(_id="a", type="root", email="a2@x", pubkey="p9")])
    upsert_dataframe(df2, connection_factory=db, dialect_name="sqlite",
                     table="users", num_partitions=1)
    rows = all_rows(db)
    assert rows == [
        {"_id": "a", "type": "root", "email": "a2@x", "pubkey": "p9"},
        {"_id": "b", "type": "user", "email": "b@x", "pubkey": "p2"},
    ]


def test_upsert_batch_replay_skipped(spark, db):
    df = spark.createDataFrame([Row(_id="a", type="v1", email="e", pubkey="p")])
    upsert_dataframe(df, connection_factory=db, dialect_name="sqlite",
                     table="users", batch_id=7, num_partitions=1)
    # same batch id re-delivered with different data: must be a no-op
    df2 = spark.createDataFrame([Row(_id="a", type="REPLAY", email="e", pubkey="p")])
    upsert_dataframe(df2, connection_factory=db, dialect_name="sqlite",
                     table="users", batch_id=7, num_partitions=1)
    assert all_rows(db)[0]["type"] == "v1"
    # next batch applies
    upsert_dataframe(df2, connection_factory=db, dialect_name="sqlite",
                     table="users", batch_id=8, num_partitions=1)
    assert all_rows(db)[0]["type"] == "REPLAY"


def test_replay_with_changed_partition_layout_reapplies(spark, db):
    """A replayed batch whose rows land in a DIFFERENT partition layout must
    REAPPLY (idempotent), not skip: the old per-partition markers belong to a
    different row-to-partition mapping, and skipping would lose writes."""
    df = spark.createDataFrame(
        [Row(_id=k, type="v1", email="e", pubkey="p") for k in "abcd"]
    )
    upsert_dataframe(df, connection_factory=db, dialect_name="sqlite",
                     table="users", batch_id=3, num_partitions=2)
    # crash-replay of batch 3, but now as ONE partition: rows previously in
    # partition 1 of 2 would be "skipped" under a layout-blind marker
    df2 = spark.createDataFrame(
        [Row(_id=k, type="v2", email="e", pubkey="p") for k in "abcd"]
    )
    upsert_dataframe(df2, connection_factory=db, dialect_name="sqlite",
                     table="users", batch_id=3, num_partitions=1)
    assert all(r["type"] == "v2" for r in all_rows(db))
    # replay under the SAME layout still skips
    df3 = spark.createDataFrame(
        [Row(_id=k, type="v3", email="e", pubkey="p") for k in "abcd"]
    )
    upsert_dataframe(df3, connection_factory=db, dialect_name="sqlite",
                     table="users", batch_id=3, num_partitions=1)
    assert all(r["type"] == "v2" for r in all_rows(db))


def test_delete_dataframe(spark, db):
    df = spark.createDataFrame(
        [Row(_id=k, type="t", email="e", pubkey="p") for k in "abc"]
    )
    upsert_dataframe(df, connection_factory=db, dialect_name="sqlite",
                     table="users", num_partitions=1)
    delete_dataframe(spark.createDataFrame([Row(_id="b")]),
                     connection_factory=db, dialect_name="sqlite",
                     table="users", num_partitions=1)
    assert [r["_id"] for r in all_rows(db)] == ["a", "c"]


def test_identifier_validation():
    with pytest.raises(ValueError):
        check_ident("users; DROP TABLE x")
    with pytest.raises(ValueError):
        check_ident('weird"name')


# ------------------------------------------------------------------
# DDL reconciliation (reference D1-D3 semantics)
# ------------------------------------------------------------------
def test_reconcile_creates_missing_table():
    spec = parse_spec(SPEC_YAML)
    plan = reconcile(spec.tables, {}, DIALECTS["sqlite"])
    assert any(s.startswith('CREATE TABLE "users"') for s in plan.statements)
    assert '"_id" varchar(24) NOT NULL' in plan.statements[0]
    assert plan.resync_columns == {"users": ["type", "email", "pubkey"]}


def test_reconcile_adds_missing_column_marks_resync():
    spec = parse_spec(SPEC_YAML)
    current = {"users": {"_id": "varchar(24)", "type": "varchar(100)",
                         "email": "varchar(100)"}}
    plan = reconcile(spec.tables, current, DIALECTS["sqlite"])
    assert plan.statements == [
        'ALTER TABLE "users" ADD COLUMN "pubkey" varchar(100) NULL'
    ]
    assert plan.resync_columns == {"users": ["pubkey"]}


def test_reconcile_type_mismatch_recreates_column():
    spec = parse_spec(SPEC_YAML)
    current = {"users": {"_id": "varchar(24)", "type": "bigint(20)",
                         "email": "varchar(100)", "pubkey": "varchar(100)"}}
    plan = reconcile(spec.tables, current, DIALECTS["sqlite"])
    assert 'ALTER TABLE "users" DROP COLUMN "type"' in plan.statements
    assert 'ALTER TABLE "users" ADD COLUMN "type" varchar(100) NULL' in plan.statements
    assert plan.resync_columns == {"users": ["type"]}


def test_reconcile_drops_are_force_gated():
    spec = parse_spec(SPEC_YAML)
    current = {
        "users": {"_id": "varchar(24)", "type": "varchar(100)",
                  "email": "varchar(100)", "pubkey": "varchar(100)",
                  "legacy": "blob"},
        "old_table": {"_id": "varchar(24)"},
    }
    soft = reconcile(spec.tables, current, DIALECTS["sqlite"], force=False)
    assert soft.statements == []
    assert sorted(soft.skipped_drops) == ["column:users.legacy", "table:old_table"]
    hard = reconcile(spec.tables, current, DIALECTS["sqlite"], force=True)
    assert 'DROP TABLE "old_table"' in hard.statements
    assert 'ALTER TABLE "users" DROP COLUMN "legacy"' in hard.statements


# ------------------------------------------------------------------
# Engine batch sync end-to-end (snapshot + orphans) on sqlite
# ------------------------------------------------------------------
def test_engine_batch_sync_roundtrip(spark, tmp_path):
    path = str(tmp_path / "engine.db")
    factory = functools.partial(sqlite3.connect, path, timeout=60)
    spec = parse_spec(SPEC_YAML)

    src_rows = [
        Row(_id=f"{i:024x}", type="user", email=f"u{i}@x", pubkey=f"p{i}",
            junk="dropped")
        for i in range(50)
    ]
    source = lambda table: spark.createDataFrame(src_rows)  # noqa: E731

    eng = ReplicationEngine(spark, spec, source, factory,
                            dialect_name="sqlite", sink_partitions=1)
    resynced = eng.run_batch_sync()
    assert resynced == {"users": ["type", "email", "pubkey"]}
    rows = all_rows(factory)
    assert len(rows) == 50
    assert rows[0] == {"_id": f"{0:024x}", "type": "user",
                       "email": "u0@x", "pubkey": "p0"}

    # second run: schema in sync -> nothing to resync; seed an orphan and
    # resync explicitly -> orphan removed, source upserts survive
    conn = factory()
    conn.execute('INSERT INTO "users"("_id") VALUES ("feedfeedfeedfeedfeedfeed")')
    conn.commit(); conn.close()
    assert eng.run_batch_sync() == {}
    eng.snapshot_table("users")
    eng.delete_orphans("users", eng.sink_ids("users"))
    assert len(all_rows(factory)) == 50


def test_postgres_dialect_sql_shapes():
    d = DIALECTS["postgres"]
    up = d.upsert_sql("users", ["_id", "type"], key="_id")
    assert up == (
        'INSERT INTO "users" ("_id", "type") VALUES (%s, %s) '
        'ON CONFLICT ("_id") DO UPDATE SET "type" = EXCLUDED."type"'
    )
    assert d.delete_sql("users", "_id") == 'DELETE FROM "users" WHERE "_id" = %s'
    assert d.ph == "%s"


def test_engine_column_granular_backfill(spark, tmp_path):
    """A newly declared column backfills as a patch: existing column values
    not present at the source anymore must SURVIVE (whole-row rewrite would
    clobber them)."""
    path = str(tmp_path / "backfill.db")
    factory = functools.partial(sqlite3.connect, path, timeout=60)
    conn = factory()
    conn.execute(
        'CREATE TABLE "users" ("_id" varchar(24) PRIMARY KEY, '
        '"type" varchar(100), "email" varchar(100))'
    )
    conn.executemany(
        'INSERT INTO "users" VALUES (?, ?, ?)',
        [(f"{i:024x}", "keep-me", f"old{i}@x") for i in range(20)],
    )
    conn.commit(); conn.close()

    # spec now also declares pubkey; the source no longer carries `type`
    # values we want (simulating drifted historical data that only lives in
    # the sink) — backfill must touch ONLY pubkey
    spec = parse_spec(SPEC_YAML)
    src = spark.createDataFrame(
        [Row(_id=f"{i:024x}", type="WRONG", email=f"new{i}@x", pubkey=f"pk{i}")
         for i in range(20)]
    )
    eng = ReplicationEngine(spark, spec, lambda t: src, factory,
                            dialect_name="sqlite", sink_partitions=1)
    resynced = eng.run_batch_sync()
    assert resynced == {"users": ["pubkey"]}
    rows = all_rows(factory)
    assert all(r["pubkey"].startswith("pk") for r in rows)   # backfilled
    assert all(r["type"] == "keep-me" for r in rows)         # untouched
    assert all(r["email"].startswith("old") for r in rows)   # untouched


def test_engine_snapshot_to_lake(spark, tmp_path):
    spec = parse_spec(SPEC_YAML)
    src = spark.createDataFrame(
        [Row(_id=f"{i:024x}", type=("admin" if i % 3 == 0 else "user"),
             email=f"u{i}@x", pubkey=f"p{i}") for i in range(30)]
    )
    eng = ReplicationEngine(spark, spec, lambda t: src,
                            connection_factory=None, dialect_name="sqlite")
    from momyre_spark.sinks.snapshots import (
        current_version,
        read_manifest,
        snapshot_read,
    )

    out = str(tmp_path / "lake_users")
    eng.snapshot_to_lake("users", out, partition_by=["type"])
    back = snapshot_read(spark, out)
    assert back.count() == 30
    assert sorted(r[0] for r in back.select("type").distinct().collect()) == \
        ["admin", "user"]
    man = read_manifest(spark, out, current_version(spark, out))
    assert man["partition_by"] == ["type"]
    assert sorted(man["partitions"]) == ["type=admin", "type=user"]


def test_reorder_columns_sql_mysql_only():
    from momyre_spark.sinks.ddl import reorder_columns_sql

    spec = parse_spec(SPEC_YAML).tables["users"]
    got = reorder_columns_sql(
        spec, ["email", "_id", "type", "pubkey"], DIALECTS["mysql"]
    )
    assert got[0] == "ALTER TABLE `users` MODIFY `_id` varchar(24) NOT NULL FIRST"
    assert got[1] == ("ALTER TABLE `users` MODIFY `type` varchar(100) NULL "
                      "AFTER `_id`")
    assert got[-1] == ("ALTER TABLE `users` MODIFY `pubkey` varchar(100) NULL "
                       "AFTER `email`")
    # already ordered -> no statements; non-mysql -> no statements
    ordered = ["_id", "type", "email", "pubkey"]
    assert reorder_columns_sql(spec, ordered, DIALECTS["mysql"]) == []
    assert reorder_columns_sql(spec, ["x"], DIALECTS["sqlite"]) == []
