"""Versioned lake snapshots: commit/read/time-travel, manifest-driven
partition pruning, copy-on-write merge (untouched partitions re-referenced,
not rewritten), and vacuum retention."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from momyre_spark.sinks.snapshots import (
    current_version,
    list_versions,
    read_manifest,
    snapshot_merge_cdc,
    snapshot_read,
    snapshot_vacuum,
    snapshot_write,
)

FIELDS = {"val": "bigint", "region": "string"}


def _df(spark, rows):
    return spark.createDataFrame(rows, "_id string, val bigint, region string")


def _actions(spark, rows):
    # (_id, action, val, region, present)
    return spark.createDataFrame(
        rows, "_id string, __action string, val bigint, region string, __present array<string>"
    )


def _state(df):
    return sorted((r["_id"], r["val"], r["region"]) for r in df.collect())


def test_write_read_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v1 = snapshot_write(spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]), root)
    v2 = snapshot_write(spark, _df(spark, [("a", 10, "eu")]), root)
    assert (v1, v2) == (1, 2)
    assert current_version(spark, root) == 2
    assert _state(snapshot_read(spark, root)) == [("a", 10, "eu")]
    # the pre-overwrite table is still readable at its version
    assert _state(snapshot_read(spark, root, version=1)) == [
        ("a", 1, "eu"), ("b", 2, "us"),
    ]


def test_merge_cow_rereferences_untouched_partitions(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark,
        _df(spark, [("a", 1, "eu"), ("b", 2, "us"), ("c", 3, "ap")]),
        root,
        partition_by=["region"],
    )
    acts = _actions(
        spark, [("a", "upsert", 100, "eu", ["val", "region"])]
    )
    v2 = snapshot_merge_cdc(
        spark, root, acts, FIELDS, partition_by=["region"]
    )
    assert _state(snapshot_read(spark, root)) == [
        ("a", 100, "eu"), ("b", 2, "us"), ("c", 3, "ap"),
    ]
    m1, m2 = read_manifest(spark, root, 1), read_manifest(spark, root, v2)
    # us/ap data dirs are the SAME paths as version 1 (no rewrite);
    # only eu points into the new version's data dir
    assert m2["partitions"]["region=us"] == m1["partitions"]["region=us"]
    assert m2["partitions"]["region=ap"] == m1["partitions"]["region=ap"]
    assert m2["partitions"]["region=eu"] != m1["partitions"]["region=eu"]
    assert f"data/v{v2}" in m2["partitions"]["region=eu"]
    # and version 1 still reads the pre-merge row
    assert ("a", 1, "eu") in _state(snapshot_read(spark, root, version=1))


def test_merge_delete_empties_partition(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]), root,
        partition_by=["region"],
    )
    v2 = snapshot_merge_cdc(
        spark, root,
        _actions(spark, [("b", "delete", None, None, [])]),
        FIELDS, partition_by=["region"],
    )
    m2 = read_manifest(spark, root, v2)
    assert "region=us" not in m2["partitions"]  # emptied -> dropped
    assert _state(snapshot_read(spark, root)) == [("a", 1, "eu")]
    assert _state(snapshot_read(spark, root, version=1)) == [
        ("a", 1, "eu"), ("b", 2, "us"),
    ]


def test_merge_patch_and_missing_key_noop(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu")]), root, partition_by=["region"]
    )
    v2 = snapshot_merge_cdc(
        spark, root,
        _actions(spark, [
            ("a", "patch", 5, None, ["val"]),          # updates val only
            ("zz", "patch", 9, "eu", ["val"]),          # missing key: no-op
        ]),
        FIELDS, partition_by=["region"],
    )
    assert v2 == 2
    assert _state(snapshot_read(spark, root)) == [("a", 5, "eu")]


def test_partition_filter_prunes_manifest_entries(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]), root,
        partition_by=["region"],
    )
    got = snapshot_read(spark, root, partition_filter={"region": "eu"})
    assert _state(got) == [("a", 1, "eu")]
    # pruning happened on the driver: the scan's input files all live in eu
    files = [r[0] for r in got.withColumn("f", F.input_file_name()).select("f").distinct().collect()]
    assert files and all("region%3Deu" in f or "__p_region=eu" in f for f in files)


def test_vacuum_drops_expired_versions_keeps_live_data(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]), root,
        partition_by=["region"],
    )
    snapshot_merge_cdc(
        spark, root, _actions(spark, [("a", "upsert", 2, "eu", ["val", "region"])]),
        FIELDS, partition_by=["region"],
    )
    snapshot_merge_cdc(
        spark, root, _actions(spark, [("a", "upsert", 3, "eu", ["val", "region"])]),
        FIELDS, partition_by=["region"],
    )
    expired = snapshot_vacuum(spark, root, keep_last=2)
    assert expired == [1]
    assert list_versions(spark, root) == [2, 3]
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, root, version=1)
    # v2 re-referenced v1's us partition — vacuum must NOT delete shared dirs
    assert _state(snapshot_read(spark, root, version=2)) == [
        ("a", 2, "eu"), ("b", 2, "us"),
    ]
    assert _state(snapshot_read(spark, root, version=3)) == [
        ("a", 3, "eu"), ("b", 2, "us"),
    ]


def test_first_merge_bootstraps_table(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v1 = snapshot_merge_cdc(
        spark, root,
        _actions(spark, [
            ("a", "upsert", 1, "eu", ["val", "region"]),
            ("gone", "delete", None, None, []),
        ]),
        FIELDS, partition_by=["region"],
    )
    assert v1 == 1
    assert _state(snapshot_read(spark, root)) == [("a", 1, "eu")]


def test_unpartitioned_merge_versions(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root)
    snapshot_merge_cdc(
        spark, root, _actions(spark, [("b", "upsert", 2, "us", ["val", "region"])]),
        FIELDS,
    )
    assert _state(snapshot_read(spark, root)) == [("a", 1, "eu"), ("b", 2, "us")]
    assert _state(snapshot_read(spark, root, version=1)) == [("a", 1, "eu")]


def test_replayed_merge_is_reproducible_not_stacked(spark, tmp_path):
    """Re-merging the same batch creates a new version with the SAME state
    (merge semantics are idempotent per batch) — history grows, data
    doesn't drift."""
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu")]), root, partition_by=["region"]
    )
    acts = _actions(spark, [("a", "upsert", 7, "eu", ["val", "region"])])
    snapshot_merge_cdc(spark, root, acts, FIELDS, partition_by=["region"])
    snapshot_merge_cdc(spark, root, acts, FIELDS, partition_by=["region"])
    assert _state(snapshot_read(spark, root, version=2)) == [("a", 7, "eu")]
    assert _state(snapshot_read(spark, root, version=3)) == [("a", 7, "eu")]


def test_hostile_partition_values_roundtrip(spark, tmp_path):
    """r02 ADVICE: manifests must record the Hive-escaped directory names
    Spark actually writes (space literal, / : = as %XX, null ->
    __HIVE_DEFAULT_PARTITION__) — urllib quoting pointed at nonexistent
    paths. Write, filter, and CoW-merge across such partitions."""
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, "a b"), ("b", 2, "x/y:z"), ("c", 3, None), ("d", 4, "ü=v")],
        "_id string, val bigint, region string",
    )
    v1 = snapshot_write(spark, df, root, partition_by=["region"])
    got = {r["_id"]: r["region"] for r in snapshot_read(spark, root).collect()}
    assert got == {"a": "a b", "b": "x/y:z", "c": None, "d": "ü=v"}
    # every manifest dir exists on disk
    man = read_manifest(spark, root, v1)
    for d in man["partitions"].values():
        assert os.path.isdir(d), d
    # driver-side partition filter on an escaped value
    sel = snapshot_read(spark, root, partition_filter={"region": "x/y:z"})
    assert [r["_id"] for r in sel.collect()] == ["b"]
    # merge touching the escaped partition; untouched ones re-referenced
    v2 = snapshot_merge_cdc(
        spark, root,
        _actions(spark, [("b", "upsert", 20, "x/y:z", None)]),
        FIELDS, partition_by=["region"],
    )
    m1, m2 = read_manifest(spark, root, v1), read_manifest(spark, root, v2)
    k_space = [k for k in m2["partitions"] if k == "region=a b"]
    assert k_space and m2["partitions"]["region=a b"] == m1["partitions"]["region=a b"]
    got2 = {r["_id"]: r["val"] for r in snapshot_read(spark, root).collect()}
    assert got2 == {"a": 1, "b": 20, "c": 3, "d": 4}


def test_current_hint_crash_window_recovery(spark, tmp_path):
    """r02 ADVICE: the manifest write is the commit point; CURRENT is only a
    hint. Missing, stale, or torn CURRENT must all recover to the max
    manifest — never restart at v1 and clobber referenced data."""
    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root)
    v2 = snapshot_write(spark, _df(spark, [("a", 2, "eu")]), root)
    cur = os.path.join(root, "_manifests", "CURRENT")
    # crash after CURRENT delete, before rename
    os.remove(cur)
    assert current_version(spark, root) == v2
    # crash after manifest write, before hint update (stale hint)
    with open(cur, "w") as f:
        f.write("1")
    assert current_version(spark, root) == v2
    # a new commit proceeds from the true version, not the stale hint
    v3 = snapshot_write(spark, _df(spark, [("a", 3, "eu")]), root)
    assert v3 == v2 + 1
    assert _state(snapshot_read(spark, root, version=v2)) == [("a", 2, "eu")]


def test_empty_version_reads_back_with_schema(spark, tmp_path):
    """r02 ADVICE: a merge that deletes every row commits an empty version —
    it must read back as an empty DataFrame with the table schema, not
    raise."""
    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu")]), root, partition_by=["region"]
    )
    v2 = snapshot_merge_cdc(
        spark, root, _actions(spark, [("a", "delete", None, None, None)]),
        FIELDS, partition_by=["region"],
    )
    out = snapshot_read(spark, root, version=v2)
    assert out.count() == 0
    assert out.columns == ["_id", "val", "region"]
    # and the table stays writable after the empty version
    v3 = snapshot_merge_cdc(
        spark, root, _actions(spark, [("z", "upsert", 9, "ap", None)]),
        FIELDS, partition_by=["region"],
    )
    assert _state(snapshot_read(spark, root, version=v3)) == [("z", 9, "ap")]


def test_manifest_partition_count_guard(spark, tmp_path, monkeypatch):
    """VERDICT r02 #5: single-JSON manifests are bounded — past the cap the
    commit refuses loudly instead of degrading the driver silently."""
    import momyre_spark.sinks.snapshots as snap

    monkeypatch.setattr(snap, "MAX_MANIFEST_PARTITIONS", 3)
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"k{i}", i, f"r{i}") for i in range(5)],
        "_id string, val bigint, region string",
    )
    with pytest.raises(RuntimeError, match="partitions"):
        snapshot_write(spark, df, root, partition_by=["region"])


def test_cdc_stream_into_versioned_store(spark, tmp_path):
    """Raw oplog stream -> decode -> start_cdc_lake_stream -> snapshot
    store: each micro-batch run commits a version and earlier batches stay
    time-travelable. The second batch carries a $set, a delete, and an
    applyOps txn touching one key twice (seq order decides); fields an
    insert does not carry read as NULL."""
    import json

    from pyspark.sql import Row

    from momyre_spark.sources.opslog import decode_oplog
    from momyre_spark.spec import parse_spec
    from momyre_spark.streaming.pipeline import start_cdc_lake_stream

    spec = parse_spec(
        "tables:\n  users:\n    type: varchar(100)\n    email: varchar(100)\n"
        "    v: varchar(100)\n"
    )
    root = str(tmp_path / "lake")
    src = str(tmp_path / "src")
    os.makedirs(src)

    def run(entries, srcname):
        # ONE source dir + ONE checkpoint across runs: epochs grow
        # monotonically, exactly like a long-lived stream
        spark.createDataFrame(
            [Row(entry=json.dumps(e)) for e in entries]
        ).coalesce(1).write.mode("append").json(src)
        raw = spark.readStream.schema("entry string").json(src)
        q = start_cdc_lake_stream(
            decode_oplog(raw, tables=["users"]), spec,
            lake_root=root,
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run([
        {"op": "i", "ns": "db.users", "ts": {"t": 1, "i": 1},
         "o": {"_id": "a", "type": "admin", "email": "a@x"}},
        {"op": "i", "ns": "db.users", "ts": {"t": 1, "i": 2},
         "o": {"_id": "b", "type": "user", "email": "b@x"}},
    ], "b1")
    run([
        {"op": "u", "ns": "db.users", "ts": {"t": 2, "i": 1},
         "o": {"$set": {"email": "a2@x"}}, "o2": {"_id": "a"}},
        {"op": "d", "ns": "db.users", "ts": {"t": 2, "i": 2}, "o": {"_id": "b"}},
        {"op": "c", "ns": "admin.$cmd", "ts": {"t": 3, "i": 1},
         "o": {"applyOps": [
             {"op": "i", "ns": "db.users", "o": {"_id": "c", "v": "first"}},
             {"op": "u", "ns": "db.users",
              "o": {"$set": {"v": "last"}}, "o2": {"_id": "c"}},
         ]}},
    ], "b2")

    def state(version=None):
        return {r["_id"]: (r["type"], r["email"], r["v"])
                for r in snapshot_read(spark, tbl, version=version).collect()}

    tbl = f"{root}/users"
    assert current_version(spark, tbl) == 2
    assert state() == {
        "a": ("admin", "a2@x", None),
        "c": (None, None, "last"),  # txn: insert then update, seq-ordered
    }  # b deleted
    assert state(version=1) == {
        "a": ("admin", "a@x", None), "b": ("user", "b@x", None),
    }
    with pytest.raises(ValueError, match="only lake sink"):
        start_cdc_lake_stream(
            spark.readStream.schema("entry string").json(src), spec,
            lake_root=root, checkpoint_dir=str(tmp_path / "ckpt2"),
            versioned=False,
        )


def test_merge_replay_with_batch_id_skips_commit(spark, tmp_path):
    """Same batch_id replayed -> no new version; the epoch in the manifest
    is the streaming path's exactly-once-version-history guard."""
    root = str(tmp_path / "tbl")
    acts = _actions(spark, [("a", "upsert", 1, "eu", ["val", "region"])])
    v1 = snapshot_merge_cdc(
        spark, root, acts, FIELDS, partition_by=["region"], batch_id=5
    )
    v_replay = snapshot_merge_cdc(
        spark, root, acts, FIELDS, partition_by=["region"], batch_id=5
    )
    assert (v1, v_replay) == (1, 1)
    assert list_versions(spark, root) == [1]
    v2 = snapshot_merge_cdc(
        spark, root,
        _actions(spark, [("a", "upsert", 2, "eu", ["val", "region"])]),
        FIELDS, partition_by=["region"], batch_id=6,
    )
    assert v2 == 2
    assert _state(snapshot_read(spark, root)) == [("a", 2, "eu")]


def test_engine_snapshot_to_lake_versioned(spark, tmp_path):
    """engine.snapshot_to_lake commits version 1; a second snapshot becomes
    version 2 with version 1 still readable. versioned=False is refused:
    the snapshot store is the only lake sink."""
    from momyre_spark.engine import ReplicationEngine
    from momyre_spark.spec import parse_spec

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("1", "ann"), ("2", "bob")], "_id string, name string"
    ).write.parquet(src)
    spec = parse_spec("tables:\n  users:\n    name: varchar(64)\n")
    eng = ReplicationEngine(
        spark, spec,
        source=lambda t: spark.read.parquet(src),
        connection_factory=None, dialect_name="sqlite",
    )
    root = str(tmp_path / "tbl")
    eng.snapshot_to_lake("users", root)
    spark.createDataFrame(
        [("1", "ann2")], "_id string, name string"
    ).write.mode("overwrite").parquet(src)
    eng.snapshot_to_lake("users", root)
    assert current_version(spark, root) == 2
    assert sorted(
        (r["_id"], r["name"]) for r in snapshot_read(spark, root).collect()
    ) == [("1", "ann2")]
    assert sorted(
        (r["_id"], r["name"])
        for r in snapshot_read(spark, root, version=1).collect()
    ) == [("1", "ann"), ("2", "bob")]
    with pytest.raises(ValueError, match="only lake sink"):
        eng.snapshot_to_lake("users", root, versioned=False)
    assert current_version(spark, root) == 2


# ------------------------------------------------------------ compaction --
def _parquet_files(man, key):
    import glob

    return [
        f
        for f in glob.glob(os.path.join(man["partitions"][key], "*.parquet"))
    ]


def test_compact_binpacks_small_files_new_version(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_compact

    root = str(tmp_path / "tbl")
    rows = [(f"k{i}", i, "eu" if i % 2 else "us") for i in range(400)]
    # many tiny files: 8 write tasks x 25-row splits
    df = _df(spark, rows).repartition(8)
    snapshot_write(spark, df, root, partition_by=["region"],
                   max_records_per_file=25)
    man1 = read_manifest(spark, root, 1)
    files_before = {k: len(_parquet_files(man1, k)) for k in man1["partitions"]}
    assert all(n > 1 for n in files_before.values())

    v = snapshot_compact(spark, root)
    assert v == 2
    man2 = read_manifest(spark, root, 2)
    files_after = {k: len(_parquet_files(man2, k)) for k in man2["partitions"]}
    assert all(n == 1 for n in files_after.values())
    # row content bit-identical; pre-compaction layout still time-travels
    assert _state(snapshot_read(spark, root)) == sorted(rows)
    assert _state(snapshot_read(spark, root, version=1)) == sorted(rows)
    # CDF between the versions is empty: compaction moved bytes, not rows
    from momyre_spark.sinks.snapshots import snapshot_diff

    assert snapshot_diff(spark, root, 1, 2).count() == 0
    # already compact -> no-op, no version burned
    assert snapshot_compact(spark, root) is None
    assert current_version(spark, root) == 2


def test_compact_rewrites_only_fragmented_partitions(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_compact

    root = str(tmp_path / "tbl")
    # eu fragmented (multi-task write), us compact (single row)
    frag = _df(spark, [(f"e{i}", i, "eu") for i in range(100)]).repartition(6)
    one = _df(spark, [("u0", 0, "us")]).coalesce(1)
    snapshot_write(spark, frag.unionByName(one).repartition(6), root,
                   partition_by=["region"], max_records_per_file=10)
    man1 = read_manifest(spark, root, 1)
    if len(_parquet_files(man1, "region=us")) == 1:
        v = snapshot_compact(spark, root)
        assert v == 2
        man2 = read_manifest(spark, root, 2)
        # untouched partition re-references the parent's directory
        assert man2["partitions"]["region=us"] == man1["partitions"]["region=us"]
        assert man2["partitions"]["region=eu"] != man1["partitions"]["region=eu"]


def test_compact_carries_batch_id_for_replay_skip(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_compact

    root = str(tmp_path / "tbl")
    acts = _actions(
        spark,
        [(f"k{i}", "upsert", i, "eu", None) for i in range(60)],
    )
    snapshot_merge_cdc(spark, root, acts, FIELDS, partition_by=["region"],
                       max_records_per_file=5, batch_id=7)
    v = snapshot_compact(spark, root)
    assert v == 2
    assert read_manifest(spark, root, 2).get("batch_id") == 7
    # a replay of epoch 7 after compaction is still skipped
    got = snapshot_merge_cdc(spark, root, acts, FIELDS,
                             partition_by=["region"], batch_id=7)
    assert got == 2 and current_version(spark, root) == 2


def test_compact_unpartitioned_table(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_compact

    root = str(tmp_path / "tbl")
    rows = [(f"k{i}", i, "eu") for i in range(100)]
    snapshot_write(spark, _df(spark, rows).repartition(8),
                   root, max_records_per_file=10)
    v = snapshot_compact(spark, root)
    assert v == 2
    man = read_manifest(spark, root, 2)
    assert len(_parquet_files(man, "")) == 1
    assert _state(snapshot_read(spark, root)) == sorted(rows)
    # already compact -> no-op, no version burned
    assert snapshot_compact(spark, root) is None
    assert current_version(spark, root) == 2


# ------------------------------------------------------ schema evolution --
def test_schema_evolution_each_version_reads_own_schema(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root)
    wide = spark.createDataFrame(
        [("a", 1, "eu", 0.5)], "_id string, val bigint, region string, score double"
    )
    snapshot_write(spark, wide, root)
    assert snapshot_read(spark, root, version=1).columns == ["_id", "val", "region"]
    v2 = snapshot_read(spark, root, version=2)
    assert v2.columns == ["_id", "val", "region", "score"]
    assert v2.collect()[0]["score"] == 0.5


# ------------------------------------------------- column-stats skipping --
def test_stats_skipping_prunes_partitions(spark, tmp_path):
    root = str(tmp_path / "tbl")
    rows = (
        [(f"e{i}", i, "eu") for i in range(100)]
        + [(f"u{i}", 1000 + i, "us") for i in range(100)]
        + [(f"a{i}", 2000 + i, "ap") for i in range(100)]
    )
    snapshot_write(spark, _df(spark, rows), root, partition_by=["region"],
                   stats_cols=["val"], sort_by=["val"])
    man = read_manifest(spark, root, 1)
    assert man["stats"]["region=eu"]["val"] == [0, 99]
    assert man["stats"]["region=us"]["val"] == [1000, 1099]

    hit = snapshot_read(spark, root, stats_filter={"val": (1000, 1050)})
    # only the us partition's files are listed/read
    assert all("region=us" in f for f in hit.inputFiles())
    # pruning is an optimization — caller still applies the predicate
    got = hit.filter((F.col("val") >= 1000) & (F.col("val") <= 1050))
    assert got.count() == 51

    # open-ended bound: val >= 2000 -> ap only
    top = snapshot_read(spark, root, stats_filter={"val": (2000, None)})
    assert all("region=ap" in f for f in top.inputFiles())

    # a range no partition covers -> empty frame, right schema, zero IO
    none = snapshot_read(spark, root, stats_filter={"val": (5000, 6000)})
    assert none.count() == 0 and none.columns == ["_id", "val", "region"]


def test_stats_survive_merge_and_compaction(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_compact

    root = str(tmp_path / "tbl")
    rows = [(f"e{i}", i, "eu") for i in range(50)] + [
        (f"u{i}", 1000 + i, "us") for i in range(50)
    ]
    snapshot_write(spark, _df(spark, rows), root, partition_by=["region"],
                   stats_cols=["val"], max_records_per_file=5)
    acts = _actions(spark, [("e0", "upsert", 500, "eu", None)])
    snapshot_merge_cdc(spark, root, acts, FIELDS, partition_by=["region"])
    man2 = read_manifest(spark, root, 2)
    # untouched partition: bounds carried; touched: re-profiled
    assert man2["stats"]["region=us"]["val"] == [1000, 1049]
    assert man2["stats"]["region=eu"]["val"] == [1, 500]

    v3 = snapshot_compact(spark, root)
    assert v3 == 3
    man3 = read_manifest(spark, root, 3)
    assert man3["stats"]["region=eu"]["val"] == [1, 500]
    hit = snapshot_read(spark, root, stats_filter={"val": (400, 600)})
    assert all("region=eu" in f for f in hit.inputFiles())


def test_stats_filter_without_stats_reads_everything(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]), root,
                   partition_by=["region"])
    out = snapshot_read(spark, root, stats_filter={"val": (100, 200)})
    assert out.count() == 2  # no stats recorded -> conservative full read


def test_engine_snapshot_records_stats_for_skipping(spark, tmp_path):
    from momyre_spark.engine import ReplicationEngine
    from momyre_spark.spec import parse_spec

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(str(i), i, "eu" if i < 50 else "us") for i in range(100)],
        "_id string, val bigint, region string",
    ).write.parquet(src)
    spec = parse_spec(
        "tables:\n  users:\n    val: bigint\n    region: varchar(8)\n"
    )
    eng = ReplicationEngine(
        spark, spec,
        source=lambda t: spark.read.parquet(src),
        connection_factory=None, dialect_name="sqlite",
    )
    root = str(tmp_path / "tbl")
    eng.snapshot_to_lake(
        "users", root, partition_by=["region"],
        stats_cols=["val"], sort_by=["val"],
    )
    man = read_manifest(spark, root, 1)
    assert man["stats"]["region=eu"]["val"] == [0, 49]
    hit = snapshot_read(spark, root, stats_filter={"val": (60, 70)})
    assert all("region=us" in f for f in hit.inputFiles())


# ----------------------------------------------------- crash orphans -----
def test_crashed_commit_data_is_overwritten_by_next_commit(spark, tmp_path):
    """Data written by a commit that died before its manifest is invisible
    (manifest = commit point) and the next commit at the same version
    number overwrites it."""
    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root)
    # simulate: a v2 commit wrote data, crashed before the manifest landed
    spark.createDataFrame([("ghost", 9, "zz")], "_id string, val bigint, region string")\
        .write.parquet(str(tmp_path / "tbl" / "data" / "v2"))
    assert current_version(spark, root) == 1  # ghost data not committed
    snapshot_write(spark, _df(spark, [("b", 2, "us")]), root)
    got = _state(snapshot_read(spark, root))
    assert got == [("b", 2, "us")]  # ghost rows gone (overwritten)


def test_vacuum_orphan_sweep_spares_cow_references(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_vacuum

    root = str(tmp_path / "tbl")
    rows = [("a", 1, "eu"), ("b", 2, "us")]
    snapshot_write(spark, _df(spark, rows), root, partition_by=["region"])
    # merge touches only eu -> v2 re-references data/v1's us dir
    acts = _actions(spark, [("a", "upsert", 10, "eu", None)])
    snapshot_merge_cdc(spark, root, acts, FIELDS, partition_by=["region"])
    # tail-crash orphan
    spark.createDataFrame([("x", 0, "q")], "_id string, val bigint, region string")\
        .write.parquet(str(tmp_path / "tbl" / "data" / "v9"))
    dropped = snapshot_vacuum(spark, root, keep_last=1, sweep_orphans=True)
    assert dropped == [1]
    import glob
    assert not glob.glob(str(tmp_path / "tbl" / "data" / "v9"))
    # the re-referenced us partition (under data/v1) survived the sweep
    assert _state(snapshot_read(spark, root)) == [("a", 10, "eu"), ("b", 2, "us")]


def test_rollback_restores_as_new_version(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_rollback

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]),
                   root, partition_by=["region"])
    snapshot_write(spark, _df(spark, [("a", 10, "eu")]),
                   root, partition_by=["region"])
    v3 = snapshot_rollback(spark, root, to_version=1)
    assert v3 == 3 and current_version(spark, root) == 3
    # current state equals v1's, history intact, audit field present
    assert _state(snapshot_read(spark, root)) == _state(
        snapshot_read(spark, root, version=1)
    )
    assert _state(snapshot_read(spark, root, version=2)) == [("a", 10, "eu")]
    assert read_manifest(spark, root, 3)["restored_from"] == 1


def test_rollback_to_current_is_noop(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_rollback

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root,
                   partition_by=["region"])
    assert snapshot_rollback(spark, root, to_version=1) == 1
    assert list_versions(spark, root) == [1]


def test_rollback_then_merge_continues_history(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_rollback

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]),
                   root, partition_by=["region"])
    snapshot_write(spark, _df(spark, [("c", 9, "eu")]), root,
                   partition_by=["region"])
    snapshot_rollback(spark, root, to_version=1)
    acts = _actions(spark, [("b", "upsert", 20, "us", ["val", "region"])])
    snapshot_merge_cdc(spark, root, acts, FIELDS, partition_by=["region"])
    assert _state(snapshot_read(spark, root)) == [
        ("a", 1, "eu"), ("b", 20, "us")
    ]


def test_sql_view_over_versions_is_isolated(spark, tmp_path):
    from momyre_spark.sinks.snapshots import register_snapshot_view

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]),
                   root, partition_by=["region"])
    register_snapshot_view(spark, root, "t_v1", version=1)
    snapshot_write(spark, _df(spark, [("a", 99, "eu")]),
                   root, partition_by=["region"])
    register_snapshot_view(spark, root, "t_cur")
    # v1 view still sees the old state after the new commit
    assert spark.sql("SELECT sum(val) FROM t_v1").first()[0] == 3
    assert spark.sql("SELECT sum(val) FROM t_cur").first()[0] == 99
    spark.catalog.dropTempView("t_v1")
    spark.catalog.dropTempView("t_cur")


def test_concurrent_writer_commit_rejected(spark, tmp_path):
    """Optimistic concurrency: a writer holding a stale current_version
    must fail its commit (not clobber) once another writer has advanced
    the table."""
    import json as _json

    import pytest as _pytest

    from momyre_spark.sinks.snapshots import _commit, read_manifest

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root,
                   partition_by=["region"])
    # writer B advances to v2 while writer A still thinks parent is v1
    snapshot_write(spark, _df(spark, [("b", 2, "eu")]), root,
                   partition_by=["region"])
    stale = dict(read_manifest(spark, root, 2))
    stale["version"] = 2  # A's attempt: same version number as B's commit
    with _pytest.raises(RuntimeError, match="concurrent writer|not advance"):
        _commit(spark, root, stale)
    # table state unharmed
    assert current_version(spark, root) == 2


def test_rollback_to_pre_schema_manifest(spark, tmp_path):
    """Manifests written before per-version schemas lack the 'schema' key;
    rollback must restore them instead of raising KeyError."""
    import json

    from momyre_spark.sinks.snapshots import (
        current_version,
        snapshot_read,
        snapshot_rollback,
        snapshot_write,
    )

    root = str(tmp_path / "tbl")
    snapshot_write(spark, spark.range(5).withColumnRenamed("id", "x"), root)
    snapshot_write(spark, spark.range(9).withColumnRenamed("id", "x"), root)
    # simulate a legacy v1 manifest (no schema key)
    mpath = f"{root}/_manifests/v1.json"
    man = json.load(open(mpath))
    man.pop("schema")
    json.dump(man, open(mpath, "w"))
    import os
    crc = f"{root}/_manifests/.v1.json.crc"  # hadoop LocalFS checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)

    v = snapshot_rollback(spark, root, 1)
    assert v == 3 and current_version(spark, root) == 3
    assert snapshot_read(spark, root).count() == 5


# ------------------------------------------------------------ Z-ORDER ----
def _file_bounds(spark, root, version, cols):
    """Per-parquet-file [min, max] of ``cols`` for a committed version."""
    import os

    from momyre_spark.sinks.snapshots import read_manifest

    man = read_manifest(spark, root, version)
    out = []
    for d in man["partitions"].values():
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            fdf = spark.read.parquet(os.path.join(d, f))
            aggs = []
            for c in cols:
                aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
            r = fdf.agg(*aggs).collect()[0]
            out.append({c: (r[f"lo_{c}"], r[f"hi_{c}"]) for c in cols})
    return out


@pytest.mark.slow
def test_zorder_preserves_content_and_clusters_files(spark, tmp_path):
    """snapshot_zorder commits a copy-on-write version with IDENTICAL rows
    (diff empty, parent still readable) whose files cover small hyper-
    rectangles of the zorder space: a point predicate on BOTH columns hits
    a small fraction of files, versus nearly all files in the unclustered
    parent layout."""
    from momyre_spark.sinks.snapshots import (
        snapshot_diff,
        snapshot_read,
        snapshot_zorder,
    )

    root = str(tmp_path / "store")
    # 64x64 grid in RANDOMIZED row order -> every unclustered file spans
    # nearly the full range of both columns
    df = (
        spark.range(4096)
        .selectExpr(
            "cast(id as string) as _id",
            "cast(id % 64 as long) as x",
            "cast(id div 64 as long) as y",
            "xxhash64(id) as salt",
        )
        .repartition(8, "salt")
        .drop("salt")
    )
    v1 = snapshot_write(spark, df, root, max_records_per_file=512)
    v2 = snapshot_zorder(
        spark, root, ["x", "y"], bits=6, target_file_bytes=8 * 1024
    )
    assert v2 == v1 + 1

    # content identical, history intact
    assert snapshot_diff(spark, root, v1, v2).count() == 0
    assert snapshot_read(spark, root, version=v1).count() == 4096
    assert snapshot_read(spark, root).count() == 4096

    before = _file_bounds(spark, root, v1, ["x", "y"])
    after = _file_bounds(spark, root, v2, ["x", "y"])
    assert len(after) >= 4  # the tiny target actually split files

    def hits(bounds, px, py):
        return sum(
            1 for b in bounds
            if b["x"][0] <= px <= b["x"][1] and b["y"][0] <= py <= b["y"][1]
        )

    probe_points = [(5, 50), (33, 12), (60, 60), (17, 31)]
    before_hits = sum(hits(before, px, py) for px, py in probe_points)
    after_hits = sum(hits(after, px, py) for px, py in probe_points)
    # unclustered: every file contains every point; z-ordered: a point
    # lands in a small minority of files
    assert before_hits >= len(before) * len(probe_points) * 0.7
    assert after_hits <= len(after) * len(probe_points) * 0.35, (
        before_hits, after_hits, len(before), len(after)
    )


def test_zorder_partitioned_carries_stats_and_batch_id(spark, tmp_path):
    from momyre_spark.sinks.snapshots import (
        read_manifest,
        snapshot_read,
        snapshot_zorder,
    )

    root = str(tmp_path / "store")
    df = spark.range(1000).selectExpr(
        "cast(id as string) as _id",
        "cast(id % 2 as string) as region",
        "cast(id % 97 as long) as x",
        "cast(id % 31 as long) as y",
    )
    v1 = snapshot_write(
        spark, df, root, partition_by=["region"], batch_id=41,
        stats_cols=["x"],
    )
    v2 = snapshot_zorder(spark, root, ["x", "y"], bits=4)
    man = read_manifest(spark, root, v2)
    assert man["parent"] == v1
    assert man["zorder_by"] == ["x", "y"]
    assert man["batch_id"] == 41  # replay-skip contract survives
    assert man["stats_cols"] == ["x"] and set(man["stats"]) == set(
        man["partitions"]
    )
    # hive partitioning intact: partition filter still prunes
    got = snapshot_read(spark, root, partition_filter={"region": "1"})
    assert got.count() == 500 and got.select("region").distinct().count() == 1


def test_zorder_rejects_bad_columns(spark, tmp_path):
    import pytest

    from momyre_spark.sinks.snapshots import snapshot_zorder

    root = str(tmp_path / "store")
    snapshot_write(
        spark,
        spark.range(10).selectExpr("cast(id as string) as _id", "id as x"),
        root,
    )
    with pytest.raises(ValueError, match="not in table"):
        snapshot_zorder(spark, root, ["nope"])
    with pytest.raises(ValueError, match="un-rankable"):
        snapshot_zorder(spark, root, ["_id"])
    with pytest.raises(ValueError, match="at least one"):
        snapshot_zorder(spark, root, [])


# ------------------------------------------------ schema evolution ----
def test_merge_adds_new_column_additively(spark, tmp_path):
    """A merge whose ``fields`` declares a NEW column evolves the snapshot
    schema: pre-evolution rows read the column as NULL (old files are
    re-referenced untouched), new/updated rows carry values, and time
    travel still reads the old schema at the parent version."""
    from momyre_spark.sinks.snapshots import snapshot_merge_cdc

    root = str(tmp_path / "store")
    v1 = snapshot_write(
        spark,
        spark.createDataFrame([("a", 1), ("b", 2)], "_id string, x long"),
        root,
    )
    acts = spark.createDataFrame(
        [("c", "upsert", 3, "fresh", ["x", "y"]),
         ("a", "patch", None, "patched", ["y"])],
        "_id string, __action string, x long, y string, "
        "__present array<string>",
    )
    v2 = snapshot_merge_cdc(spark, root, acts, {"x": "long", "y": "string"})
    assert v2 == v1 + 1
    got = {r["_id"]: (r["x"], r["y"])
           for r in snapshot_read(spark, root).collect()}
    assert got == {"a": (1, "patched"), "b": (2, None), "c": (3, "fresh")}
    # parent version: pre-evolution schema intact
    old = snapshot_read(spark, root, version=v1)
    assert old.columns == ["_id", "x"] and old.count() == 2


def test_merge_adds_column_partitioned_rereferences_old_files(spark, tmp_path):
    """Partitioned evolution: untouched partitions keep their ORIGINAL files
    (no rewrite) yet read back with the evolved schema as NULLs."""
    from momyre_spark.sinks.snapshots import read_manifest, snapshot_merge_cdc

    root = str(tmp_path / "store")
    snapshot_write(
        spark,
        spark.createDataFrame(
            [("a", "eu", 1), ("b", "us", 2)], "_id string, region string, x long"
        ),
        root,
        partition_by=["region"],
    )
    acts = spark.createDataFrame(
        [("c", "upsert", "eu", 9, "val", ["region", "x", "y"])],
        "_id string, __action string, region string, x long, y string, "
        "__present array<string>",
    )
    v2 = snapshot_merge_cdc(
        spark, root, acts,
        {"region": "string", "x": "long", "y": "string"},
        partition_by=["region"],
    )
    man = read_manifest(spark, root, v2)
    # us partition re-referenced from v1 (old files, no y column on disk)
    assert "/v1/" in man["partitions"]["region=us"]
    got = {r["_id"]: r["y"] for r in snapshot_read(spark, root).collect()}
    assert got == {"a": None, "b": None, "c": "val"}


# --------------------------------------- incremental MV from the CDF ----
def test_incremental_aggregate_refresh_from_cdf(spark, tmp_path):
    """The materialized-view loop: full aggregate at v1, then CDF-driven
    refresh across a merge with inserts, updates AND deletes equals the
    full recompute at v2 — without rescanning the table."""
    from momyre_spark.operators.incremental import (
        aggregate_delta,
        refresh_aggregate_from_cdf,
    )
    from momyre_spark.sinks.snapshots import snapshot_diff

    root = str(tmp_path / "tbl")
    v1 = snapshot_write(
        spark,
        _df(spark, [("a", 1, "eu"), ("b", 2, "eu"), ("c", 3, "us"),
                    ("d", 4, "ap")]),
        root, partition_by=["region"],
    )
    aggs = {"cnt": ("count", None), "total": ("sum", "val")}
    base = aggregate_delta(
        snapshot_read(spark, root, v1), ["region"], aggs
    )

    v2 = snapshot_merge_cdc(
        spark, root,
        _actions(spark, [
            ("e", "upsert", 10, "eu", ["val", "region"]),   # insert
            ("a", "upsert", 100, "eu", ["val", "region"]),  # update
            ("c", "delete", None, None, []),                 # delete
        ]),
        FIELDS, partition_by=["region"],
    )
    cdf = snapshot_diff(spark, root, v1, v2, images=True)
    # Delta-CDF shape: update emits pre+post, delete carries OLD values
    kinds = {r["_id"]: sorted(
        x["__change"] for x in cdf.collect() if x["_id"] == r["_id"]
    ) for r in cdf.collect()}
    assert kinds["a"] == ["update_postimage", "update_preimage"]
    assert kinds["c"] == ["delete"]
    deleted = [r for r in cdf.collect() if r["_id"] == "c"][0]
    assert deleted["val"] == 3 and deleted["region"] == "us"

    refreshed = refresh_aggregate_from_cdf(base, cdf, ["region"], aggs)
    want = aggregate_delta(snapshot_read(spark, root, v2), ["region"], aggs)
    got = {r["region"]: (r["cnt"], r["total"])
           for r in refreshed.filter(F.col("cnt") > 0).collect()}
    exp = {r["region"]: (r["cnt"], r["total"]) for r in want.collect()}
    assert got == exp
    # us emptied entirely: count reached 0 via retraction
    zero = {r["region"]: r["cnt"] for r in refreshed.collect()}
    assert zero["us"] == 0

    # min/max refuse the retraction path loudly
    with pytest.raises(ValueError, match="not retractable"):
        refresh_aggregate_from_cdf(
            base, cdf, ["region"], {"m": ("max", "val")}
        )


# --------------------------------- as-of time travel + expectations ----
def test_as_of_timestamp_time_travel(spark, tmp_path):
    import time

    from momyre_spark.sinks.snapshots import version_at

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root)
    t_between = int(time.time() * 1000)
    time.sleep(1.1)
    snapshot_write(spark, _df(spark, [("a", 2, "eu")]), root)

    assert version_at(spark, root, t_between) == 1
    assert version_at(spark, root, int(time.time() * 1000)) == 2
    got = snapshot_read(spark, root, as_of=t_between)
    assert _state(got) == [("a", 1, "eu")]
    # ISO string form resolves too
    import datetime

    iso = datetime.datetime.fromtimestamp(
        t_between / 1000, tz=datetime.timezone.utc
    ).isoformat()
    assert version_at(spark, root, iso) == 1
    with pytest.raises(FileNotFoundError):
        version_at(spark, root, 0)
    with pytest.raises(ValueError, match="at most one"):
        snapshot_read(spark, root, version=1, as_of=t_between)


def test_write_expectations_fail_and_drop(spark, tmp_path):
    from momyre_spark.sinks.snapshots import check_expectations

    root = str(tmp_path / "tbl")
    df = _df(spark, [("a", 1, "eu"), ("b", -5, "us"), ("c", None, "eu")])
    exp = {"val_positive": "val > 0", "region_known": "region IN ('eu','us')"}

    # one-pass audit: NULL predicate (c) counts as satisfied
    assert check_expectations(df, exp) == {
        "val_positive": 1, "region_known": 0,
    }

    with pytest.raises(ValueError, match="val_positive"):
        snapshot_write(spark, df, root, expectations=exp)
    # failed commit left no version behind
    from momyre_spark.sinks.snapshots import current_version

    assert current_version(spark, root) is None

    v = snapshot_write(
        spark, df, root, expectations=exp, on_violation="drop"
    )
    got = _state(snapshot_read(spark, root))
    assert got == [("a", 1, "eu"), ("c", None, "eu")]  # b quarantined
    man = read_manifest(spark, root, v)
    assert man["expectation_violations"] == {
        "val_positive": 1, "region_known": 0,
    }
    assert man["expectations"] == exp
    assert man["committed_at"] > 0


def test_snapshot_history_audit(spark, tmp_path):
    from momyre_spark.sinks.snapshots import snapshot_history

    root = str(tmp_path / "tbl")
    snapshot_write(
        spark, _df(spark, [("a", 1, "eu"), ("b", 2, "us")]), root,
        partition_by=["region"],
    )
    snapshot_merge_cdc(
        spark, root,
        _actions(spark, [("a", "upsert", 9, "eu", ["val", "region"])]),
        FIELDS, partition_by=["region"], batch_id=3,
    )
    hist = snapshot_history(spark, root)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["parent"] is None and hist[0]["n_rewritten"] == 2
    # the merge rewrote ONLY eu; us re-referenced
    assert hist[1]["parent"] == 1
    assert hist[1]["n_rewritten"] == 1 and hist[1]["n_rereferenced"] == 1
    assert hist[1]["batch_id"] == 3
    assert all(h["committed_at"] for h in hist)


def test_snapshot_tags_pin_training_corpora(spark, tmp_path):
    from momyre_spark.sinks.snapshots import (
        list_tags,
        resolve_tag,
        snapshot_tag,
    )

    root = str(tmp_path / "tbl")
    snapshot_write(spark, _df(spark, [("a", 1, "eu")]), root)
    snapshot_tag(spark, root, "train-run-1")
    snapshot_write(spark, _df(spark, [("a", 2, "eu")]), root)
    snapshot_tag(spark, root, "train-run-2")

    assert list_tags(spark, root) == {"train-run-1": 1, "train-run-2": 2}
    assert _state(snapshot_read(spark, root, tag="train-run-1")) == [
        ("a", 1, "eu")
    ]
    assert _state(snapshot_read(spark, root, tag="train-run-2")) == [
        ("a", 2, "eu")
    ]
    # re-tag moves; bad names and unknown tags are loud
    assert snapshot_tag(spark, root, "train-run-1", version=2) == 2
    assert resolve_tag(spark, root, "train-run-1") == 2
    with pytest.raises(ValueError, match="invalid tag"):
        snapshot_tag(spark, root, "../escape")
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, root, tag="nope")
    with pytest.raises(ValueError, match="at most one"):
        snapshot_read(spark, root, version=1, tag="train-run-1")
