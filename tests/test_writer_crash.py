"""Crash points of the sink writer: a batch that fails part-way, at any
point, must converge after a restart.

The sink's connections come from ``tests.crashing_sink.CrashingFactory``,
which raises once at a chosen point: before the k-th ``executemany``, at the
j-th commit, or on ``close()`` after a commit (the sink committed, the
Spark task still fails). The CDC stream restarts under ``supervise`` from
the same checkpoint and must end at the sequential reference state, with
every progress marker at the last batch id. ``run_batch_sync`` crashes the
same way and a re-run must end at the source's state. The last tests pin
the marker keys: an upgrade from the per-table markers of earlier builds
re-applies the batch in flight instead of skipping it.
"""

from __future__ import annotations

import os
import sqlite3
import time

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from momyre_spark.engine import ReplicationEngine
from momyre_spark.sinks.dialects import check_ident
from momyre_spark.sinks.jdbc_upsert import upsert_dataframe, writer_label
from momyre_spark.spec import parse_spec
from momyre_spark.streaming.pipeline import (
    apply_ops_microbatch,
    start_cdc_stream,
    supervise,
)
from tests import crashing_sink
from tests.cdc_fixture import FIELDS, OPS_SCHEMA, ops_as_rows, sequential_apply

crashing_sink.ship()

SPEC_YAML = """
tables:
  users:
    type: varchar(100)
    email: varchar(100)
    pubkey: varchar(100)
"""
VARIANTS = {
    "plain": {},
    "guard": {"ts_guard_col": "_seq"},
    "tomb": {"ts_guard_col": "_seq", "tombstone_col": "_deleted"},
}
KEYS = ["k1", "k2", "k3", "k4"]
_value = st.one_of(st.none(), st.text(alphabet="abxyz", min_size=1, max_size=3))


def _sink(path: str, variant: str, table: bool = True) -> str:
    conn = sqlite3.connect(path)
    if table:
        extra = {"plain": "", "guard": ', "_seq" bigint',
                 "tomb": ', "_seq" bigint, "_deleted" tinyint'}[variant]
        conn.execute(
            'CREATE TABLE "users" ("_id" varchar(24) PRIMARY KEY, '
            f'"type" varchar(100), "email" varchar(100), "pubkey" varchar(100){extra})'
        )
    conn.commit()
    conn.close()
    return path


def _state(path: str, variant: str = "plain") -> dict:
    live = ' WHERE "_deleted" = 0' if variant == "tomb" else ""
    conn = sqlite3.connect(path)
    try:
        rows = conn.execute(
            f'SELECT "_id", "type", "email", "pubkey" FROM "users"{live}'
        ).fetchall()
    finally:
        conn.close()
    return {r[0]: dict(zip(FIELDS, r[1:])) for r in rows}


def _markers(path: str, prefix: str) -> dict:
    conn = sqlite3.connect(path)
    try:
        return dict(conn.execute(
            "SELECT name, value FROM momyre_progress WHERE name LIKE ?",
            (prefix + "%",),
        ).fetchall())
    finally:
        conn.close()


@st.composite
def _logs(draw):
    """An op log over four keys, cut into one to three batches."""
    n = draw(st.integers(min_value=2, max_value=16))
    ops = []
    for ts in range(1, n + 1):
        kind = draw(st.sampled_from(["insert", "update", "delete"]))
        fields = FIELDS + (["undeclared"] if kind == "update" else [])
        payload = {} if kind == "delete" else draw(
            st.dictionaries(st.sampled_from(fields), _value, max_size=3)
        )
        ops.append({"ts": ts, "ns": "users", "op": kind,
                    "_id": draw(st.sampled_from(KEYS)), "payload": payload})
    cuts = sorted(draw(st.sets(st.integers(1, n - 1), max_size=2)))
    return [ops[a:b] for a, b in zip([0, *cuts], [*cuts, n])]


def _stream_once(spark, tmp, batches, point, at, variant, partitions):
    """Land each batch as its own file, then drain them (one microbatch
    per file) under supervise, with the armed crash."""
    src = os.path.join(tmp, "in")
    db = _sink(os.path.join(tmp, "sink.db"), variant)
    factory = crashing_sink.CrashingFactory(db, os.path.join(tmp, "crash.json"), point, at)
    mtime = time.time() - 60
    for batch in batches:
        spark.createDataFrame(ops_as_rows(batch), OPS_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
        mtime += 2
        for name in os.listdir(src):
            if name.endswith(".parquet") and os.path.getmtime(os.path.join(src, name)) > mtime:
                os.utime(os.path.join(src, name), (mtime, mtime))
    spec = parse_spec(SPEC_YAML)

    def start():
        stream = spark.readStream.schema(OPS_SCHEMA) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_cdc_stream(
            stream, spec, connection_factory=factory, dialect_name="sqlite",
            checkpoint_dir=os.path.join(tmp, "ckpt"), num_partitions=partitions,
            trigger={"availableNow": True}, **VARIANTS[variant],
        )

    supervise(start, max_restarts=2, backoff_seconds=0.1)
    return db, factory.read()["fired"]


@settings(max_examples=3, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=_logs(), point=st.sampled_from(crashing_sink.POINTS),
       at=st.integers(1, 3), variant=st.sampled_from(sorted(VARIANTS)),
       partitions=st.sampled_from([1, 2]))
@example(batches=[[{"ts": 1, "ns": "users", "op": "insert", "_id": "k1",
                    "payload": {"type": "a"}}],
                  [{"ts": 2, "ns": "users", "op": "update", "_id": "k1",
                    "payload": {"email": "e"}},
                   {"ts": 3, "ns": "users", "op": "insert", "_id": "k2",
                    "payload": {"type": "b"}}]],
         point="close", at=2, variant="tomb", partitions=2)
@example(batches=[[{"ts": 1, "ns": "users", "op": "insert", "_id": "k1",
                    "payload": {"type": "a"}},
                   {"ts": 2, "ns": "users", "op": "insert", "_id": "k2",
                    "payload": {"type": "b"}}],
                  [{"ts": 3, "ns": "users", "op": "delete", "_id": "k1",
                    "payload": {}}]],
         point="commit", at=2, variant="guard", partitions=1)
@example(batches=[[{"ts": 1, "ns": "users", "op": "insert", "_id": "k3",
                    "payload": {"pubkey": "p"}}],
                  [{"ts": 2, "ns": "users", "op": "update", "_id": "k3",
                    "payload": {"pubkey": None}}]],
         point="executemany", at=2, variant="plain", partitions=2)
def test_stream_converges_after_a_crash_anywhere(
    spark, tmp_path_factory, batches, point, at, variant, partitions
):
    tmp = str(tmp_path_factory.mktemp("crash"))
    db, fired = _stream_once(spark, tmp, batches, point, at, variant, partitions)
    ops = [op for b in batches for op in b]
    assert _state(db, variant) == sequential_apply(ops)
    markers = _markers(db, "apply:")
    assert len(markers) == partitions
    assert set(markers.values()) == {str(len(batches) - 1)}
    # every partition of every batch commits (and closes) once
    assert fired or point == "executemany" or at > len(batches) * partitions


def _stale(db: str) -> None:
    conn = sqlite3.connect(db)
    conn.executemany(
        'INSERT INTO "users" VALUES (?, ?, ?, ?)',
        [("s0", "old", "old@x", "p0"), ("orphan1", "x", None, None),
         ("orphan2", None, None, None)],
    )
    conn.commit()
    conn.close()


@settings(max_examples=2, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(point=st.sampled_from(crashing_sink.POINTS), at=st.integers(1, 3),
       case=st.sampled_from(["zerop", "new_table", "new_column"]))
@example(point="commit", at=2, case="new_table")
@example(point="executemany", at=1, case="zerop")
@example(point="close", at=2, case="new_column")
def test_batch_sync_rerun_after_a_crash_ends_at_source(
    spark, tmp_path_factory, point, at, case
):
    tmp = str(tmp_path_factory.mktemp("sync"))
    db = os.path.join(tmp, "sink.db")
    if case == "new_column":  # pubkey is new: backfilled as a patch
        conn = sqlite3.connect(db)
        conn.execute('CREATE TABLE "users" ("_id" varchar(24) PRIMARY KEY, '
                     '"type" varchar(100), "email" varchar(100))')
        conn.execute('INSERT INTO "users" VALUES (\'s0\', \'keep\', \'k@x\')')
        conn.commit()
        conn.close()
    else:
        _sink(db, "plain", table=case == "zerop")
        if case == "zerop":
            _stale(db)
    src = [Row(_id=f"s{i}", type=f"t{i}", email=f"e{i}", pubkey=f"p{i}")
           for i in range(6)]
    source = spark.createDataFrame(src)
    factory = crashing_sink.CrashingFactory(db, os.path.join(tmp, "c.json"), point, at)

    def run():
        return ReplicationEngine(
            spark, parse_spec(SPEC_YAML), lambda t: source, factory,
            dialect_name="sqlite", zerop=case == "zerop",
        ).run_batch_sync()

    try:
        run()
    except Exception as exc:  # the armed crash, raised on the driver or a task
        assert "crash" in str(exc)
    run()
    if case == "new_column":
        want = {"s0": {"type": "keep", "email": "k@x", "pubkey": "p0"}}
    else:
        want = {r._id: {f: r[f] for f in FIELDS} for r in src}
    assert _state(db) == want
    assert _markers(db, "resync:") == {}


def test_old_markers_with_a_higher_batch_id_do_not_skip(spark, tmp_path):
    """A sink written by an earlier build holds per-table markers; the new
    writer neither reads nor overwrites them, so a replayed batch applies
    (idempotently) and the sink still equals the sequential state."""
    db = _sink(str(tmp_path / "sink.db"), "plain")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE momyre_progress (name VARCHAR(128) PRIMARY KEY, "
                 "value VARCHAR(64))")
    old = {"batch:users:p0of1": "99", "batch:users#patch:p0of1": "99",
           "batch:users#tombstone:p0of1": "99", "batch:users": "99"}
    conn.executemany("INSERT INTO momyre_progress VALUES (?, ?)", old.items())
    conn.commit()
    conn.close()
    ops = [
        {"ts": 1, "ns": "users", "op": "insert", "_id": "a", "payload": {"type": "x"}},
        {"ts": 2, "ns": "users", "op": "update", "_id": "a", "payload": {"email": "e"}},
        {"ts": 3, "ns": "users", "op": "insert", "_id": "b", "payload": {"type": "y"}},
        {"ts": 4, "ns": "users", "op": "delete", "_id": "b", "payload": {}},
    ]
    batch = spark.createDataFrame(ops_as_rows(ops), OPS_SCHEMA)
    for _ in range(2):  # the batch, then its replay
        apply_ops_microbatch(
            batch, 5, parse_spec(SPEC_YAML),
            connection_factory=lambda: sqlite3.connect(db, timeout=60),
            dialect_name="sqlite",
        )
    assert _state(db) == sequential_apply(ops)
    assert _markers(db, "apply:") == {"apply:users:p0of1": "5"}
    assert _markers(db, "batch:") == old


def test_marker_keys_cannot_collide(spark, tmp_path):
    """New keys carry a prefix no table name or old key can have; the
    single-kind upsert keeps its old key."""
    for tables in (["users"], ["apply", "users"], ["batch"]):
        label = writer_label(tables)
        assert label.startswith("apply:")
        with pytest.raises(ValueError):
            check_ident(label)
    long = writer_label([f"t{i:03d}" for i in range(40)])
    assert long.startswith("apply:") and len(f"{long}:p0of1") <= 128
    db = _sink(str(tmp_path / "sink.db"), "plain")
    df = spark.createDataFrame([Row(_id="a", type="t", email="e", pubkey="p")])
    upsert_dataframe(df, connection_factory=lambda: sqlite3.connect(db),
                     dialect_name="sqlite", table="users", batch_id=3,
                     num_partitions=1)
    assert _markers(db, "") == {"batch:users:p0of1": "3"}
    assert _state(db)["a"]["type"] == "t"
