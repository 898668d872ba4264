"""Spark-job and transaction budget of the replication writer.

A 4-table microbatch goes through ``apply_ops_microbatch`` in at most four
Spark jobs and commits once per writer partition; so does one table's cold
start through ``run_batch_sync``. Jobs are counted under a job group with
``statusTracker().getJobIdsForGroup``; commits by a counting connection
factory (``tests.crashing_sink``, unarmed).
"""

from __future__ import annotations

import json
import sqlite3
import uuid
from contextlib import contextmanager

from pyspark.sql import Row

from momyre_spark.engine import ReplicationEngine
from momyre_spark.sinks.ddl import create_table_sql
from momyre_spark.sinks.dialects import DIALECTS
from momyre_spark.spec import parse_spec
from momyre_spark.streaming.pipeline import apply_ops_microbatch
from tests import crashing_sink
from tests.cdc_fixture import OPS_SCHEMA

crashing_sink.ship()

# `v` is declared with a different type in two tables
SPEC_YAML = """
tables:
  infos: {index: bigint(20), srv: tinyint(1), v: int}
  users: {type: varchar(100), email: varchar(100), v: varchar(10)}
  regs: {type: varchar(100), email: varchar(100)}
  emails: {subj: varchar(100), body: text}
"""


def _sink(tmp_path, spec):
    db = str(tmp_path / "sink.db")
    conn = sqlite3.connect(db)
    for tspec in spec.tables.values():
        conn.execute(create_table_sql(tspec, DIALECTS["sqlite"]))
    conn.commit()
    conn.close()
    return db, crashing_sink.CrashingFactory(db, str(tmp_path / "count.json"))


@contextmanager
def _jobs(spark):
    """Job ids Spark ran for the block, via a job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "apply budget")
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def _rows(db, table, cols):
    conn = sqlite3.connect(db)
    try:
        q = ", ".join(f'"{c}"' for c in cols)
        return sorted(conn.execute(f'SELECT {q} FROM "{table}"').fetchall())
    finally:
        conn.close()


def test_microbatch_four_tables_within_budget(spark, tmp_path):
    spec = parse_spec(SPEC_YAML)
    db, factory = _sink(tmp_path, spec)
    conn = sqlite3.connect(db)
    conn.execute('INSERT INTO "users" VALUES (\'u0\', \'old\', \'o@x\', \'z\')')
    conn.execute('INSERT INTO "regs" VALUES (\'r0\', \'gone\', NULL)')
    conn.commit()
    conn.close()
    ops = [
        (1, "infos", "insert", "i1", json.dumps({"index": 7, "srv": True, "v": "5"})),
        (2, "users", "insert", "u1", json.dumps({"type": "a", "v": "five"})),
        (3, "users", "update", "u0", json.dumps({"email": "n@x"})),
        (4, "regs", "delete", "r0", "{}"),
        (5, "emails", "insert", "e1", json.dumps({"subj": "hi"})),
        (6, "emails", "update", "e1", json.dumps({"body": "text"})),
        (7, "other", "insert", "x1", json.dumps({"type": "dropped"})),
    ]
    batch = spark.createDataFrame(ops, OPS_SCHEMA)
    with _jobs(spark) as jobs:
        status = apply_ops_microbatch(
            batch, 0, spec, connection_factory=factory, dialect_name="sqlite",
        )
    assert len(jobs) <= 4, jobs
    assert factory.read()["counts"]["commit"] == len(status) == 1
    (st,) = status
    assert st["written"] == {"infos:upsert": 1, "users:upsert": 1, "users:patch": 1,
                             "regs:delete": 1, "emails:upsert": 1}
    assert st["skipped"] is False and st["rejected"] == 0 and st["max_ts"] is None
    assert _rows(db, "infos", ["_id", "index", "srv", "v"]) == [("i1", 7, 1, 5)]
    assert _rows(db, "users", ["_id", "type", "email", "v"]) == [
        ("u0", "old", "n@x", "z"), ("u1", "a", None, "five")]
    assert _rows(db, "regs", ["_id"]) == []
    assert _rows(db, "emails", ["_id", "subj", "body"]) == [("e1", "hi", "text")]


def test_cold_start_of_one_table_within_budget(spark, tmp_path, monkeypatch):
    spec = parse_spec("tables:\n  users: {type: varchar(100), email: varchar(100)}\n")
    db, factory = _sink(tmp_path, spec)
    conn = sqlite3.connect(db)
    conn.executemany('INSERT INTO "users" VALUES (?, ?, ?)',
                     [("u0", "stale", None), ("orphan", "x", "y")])
    conn.commit()
    conn.close()
    src = str(tmp_path / "users.parquet")
    spark.createDataFrame(
        [Row(_id=f"u{i}", type="t", email=f"{i}@x") for i in range(50)]
    ).write.parquet(src)
    status: list = []
    apply_frames = ReplicationEngine.apply_frames
    monkeypatch.setattr(ReplicationEngine, "apply_frames",
                        lambda self, frames: status.extend(apply_frames(self, frames)))
    eng = ReplicationEngine(spark, spec, lambda t: spark.read.parquet(src), factory,
                            dialect_name="sqlite", zerop=True)
    with _jobs(spark) as jobs:
        eng.run_batch_sync()
    assert len(jobs) <= 4, jobs
    # the DDL transaction, then one per writer partition
    assert factory.read()["counts"]["commit"] == 1 + len(status)
    assert len(status) == 1 and status[0]["written"] == {
        "users:upsert": 50, "users:delete": 1}
    rows = _rows(db, "users", ["_id", "type"])
    assert len(rows) == 50 and ("u0", "t") in rows


def test_writer_binds_the_values_a_row_carried(spark, tmp_path):
    """The Arrow reader binds what the pickled-``Row`` path bound: a
    session-zone timestamp as a naive local datetime, dates, booleans."""
    from momyre_spark.sinks.jdbc_upsert import upsert_dataframe

    db = str(tmp_path / "types.db")
    conn = sqlite3.connect(db)
    conn.execute('CREATE TABLE "t" ("_id" PRIMARY KEY, "ts", "d", "b", "x")')
    conn.commit()
    conn.close()
    df = spark.sql("SELECT 'a' AS _id, TIMESTAMP '2024-01-02 03:04:05.25' AS ts, "
                   "DATE '2024-01-02' AS d, true AS b, CAST(1.5 AS DOUBLE) AS x")
    upsert_dataframe(df, connection_factory=lambda: sqlite3.connect(db),
                     dialect_name="sqlite", table="t")
    (want,) = df.collect()
    assert _rows(db, "t", ["_id", "ts", "d", "b", "x"]) == [
        ("a", want.ts.isoformat(" "), want.d.isoformat(), 1, 1.5)]
