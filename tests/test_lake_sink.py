"""Partitioned/bucketed lake layout tests: pruning and shuffle elimination
must be visible in the physical plan, not just hoped for — and Z-order
clustering must make files skippable on both columns — plus one end-to-end
CDC stream into the lake. The rest of the lake sink (the snapshot store:
CDC merge, compaction) is tested in test_snapshots.py."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from momyre_spark.sinks.lake import write_bucketed, write_partitioned
from momyre_spark.sources.parquet import load_table
from tests.conftest import SF_CORRECT


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    out = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF_CORRECT, "orders")
    write_partitioned(orders, out, partition_by=["o_orderstatus"])

    # hive-style layout on disk
    assert sorted(
        d for d in os.listdir(out) if d.startswith("o_orderstatus=")
    ) == ["o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    # results intact
    want = orders.filter("o_orderstatus = 'F'").count()
    assert back.count() == want


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    # force the SortMergeJoin path: auto-broadcast would hide the
    # bucketing's shuffle elimination at this tiny SF
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    orders = load_table(spark, SF_CORRECT, "orders")
    li = load_table(spark, SF_CORRECT, "lineitem")
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", num_buckets=8,
    )
    joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located buckets: no shuffle at all
    assert joined.count() == li.count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_cdc_lake_stream_end_to_end(spark, tmp_path):
    """Raw oplog -> decode -> start_cdc_lake_stream -> per-table lake state,
    including a txn touching one key twice (seq order) and a delete. The
    lake table is the snapshot store, read back at its current version."""
    import json

    from pyspark.sql import Row

    from momyre_spark.sinks.snapshots import snapshot_read
    from momyre_spark.sources.opslog import decode_oplog
    from momyre_spark.spec import parse_spec
    from momyre_spark.streaming.pipeline import start_cdc_lake_stream

    entries = [
        {"op": "i", "ns": "db.users", "ts": {"t": 1, "i": 1},
         "o": {"_id": "a", "type": "admin", "email": "a@x"}},
        {"op": "u", "ns": "db.users", "ts": {"t": 1, "i": 2},
         "o": {"$set": {"email": "a2@x"}}, "o2": {"_id": "a"}},
        {"op": "i", "ns": "db.users", "ts": {"t": 2, "i": 1},
         "o": {"_id": "b", "type": "user"}},
        {"op": "d", "ns": "db.users", "ts": {"t": 3, "i": 1}, "o": {"_id": "b"}},
        {"op": "c", "ns": "admin.$cmd", "ts": {"t": 4, "i": 1},
         "o": {"applyOps": [
             {"op": "i", "ns": "db.users", "o": {"_id": "c", "v": "first"}},
             {"op": "u", "ns": "db.users",
              "o": {"$set": {"v": "last"}}, "o2": {"_id": "c"}},
         ]}},
    ]
    src = str(tmp_path / "oplog_in")
    spark.createDataFrame(
        [Row(entry=json.dumps(e)) for e in entries]
    ).write.json(src)

    spec = parse_spec(
        "tables:\n  users:\n    type: varchar(100)\n    email: varchar(100)\n"
        "    v: varchar(100)\n"
    )
    raw = spark.readStream.schema("entry string").json(src)
    q = start_cdc_lake_stream(
        decode_oplog(raw, tables=["users"]), spec,
        lake_root=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    got = {r["_id"]: (r["type"], r["email"], r["v"])
           for r in snapshot_read(spark, str(tmp_path / "lake" / "users")).collect()}
    assert got == {
        "a": ("admin", "a2@x", None),
        "c": (None, None, "last"),   # txn: insert then update, seq-ordered
    }  # b deleted


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """snapshot_zorder on a 32x32 grid: a point predicate on BOTH columns
    lands in a small minority of the clustered files (per-file min/max
    bounds — the file set parquet stats let a scan skip), against nearly
    every file of the unclustered parent. Default-lane sibling of the slow
    test_snapshots.py::test_zorder_preserves_content_and_clusters_files."""
    from momyre_spark.sinks.snapshots import (
        read_manifest,
        snapshot_read,
        snapshot_write,
        snapshot_zorder,
    )

    root = str(tmp_path / "store")
    df = (
        spark.range(1024)
        .selectExpr(
            "cast(id as string) as _id",
            "cast(id % 32 as long) as x",
            "cast(id div 32 as long) as y",
            "xxhash64(id) as salt",
        )
        .repartition(4, "salt")
        .drop("salt")
    )
    v1 = snapshot_write(spark, df, root)
    v2 = snapshot_zorder(
        spark, root, ["x", "y"], bits=5, target_file_bytes=1024
    )
    assert snapshot_read(spark, root).count() == 1024

    def file_bounds(version):
        dirs = list(read_manifest(spark, root, version)["partitions"].values())
        return spark.read.parquet(*dirs).groupBy(F.input_file_name()).agg(
            F.min("x").alias("x0"), F.max("x").alias("x1"),
            F.min("y").alias("y0"), F.max("y").alias("y1"),
        ).collect()

    def hits(bounds):
        return sum(
            1 for b in bounds for px, py in ((3, 25), (17, 8), (30, 30))
            if b["x0"] <= px <= b["x1"] and b["y0"] <= py <= b["y1"]
        )

    before, after = file_bounds(v1), file_bounds(v2)
    assert len(after) >= 4
    assert hits(before) >= len(before) * 3 * 0.7
    assert hits(after) <= len(after) * 3 * 0.35, (
        hits(before), hits(after), len(before), len(after)
    )
