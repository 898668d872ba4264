"""Versioned lake snapshots: manifest-tracked table versions with time
travel and copy-on-write CDC merges (Iceberg-lite, no table-format runtime
required).

This is the engine's one lake sink: batch snapshots
(``engine.snapshot_to_lake``) and streaming CDC merges
(``streaming.pipeline.start_cdc_lake_stream``) both commit here. Every
commit is a new immutable VERSION described by a small JSON manifest
mapping partition values to data directories. Readers resolve a manifest
(any version — time travel) and scan exactly the listed directories;
writers never mutate files a previous version references, so concurrent
readers of version N are isolated from the commit of N+1.

Layout::

    root/_manifests/v{N}.json   {"version": N, "parent": M,
                                 "partition_by": [...],
                                 "partitions": {"<part-key>": "data dir"}}
    root/_manifests/CURRENT     the committed version number
    root/data/v{N}/<part-key>/  parquet written BY version N (partition
                                columns kept in the files, so a manifest's
                                directory list reads back whole)

Copy-on-write merge: version N+1 re-references the parent's directories for
untouched partitions and writes new directories only for affected ones —
a 100 TB table with a one-partition batch writes one partition and one
manifest. Manifest-driven pruning: a partition filter selects manifest
entries on the driver before any file IO, the lake analog of partition
pruning (no directory listing of the whole table, which at 100 TB is
itself a cost).

Commit protocol: the COMMIT POINT is the manifest write — ``v{N}.json``
landing makes version N the table state. CURRENT is only a hint (exactly
Iceberg's version-hint.text): ``current_version`` takes
``max(CURRENT, max(listed manifests))``, so a crash between manifest write
and CURRENT update loses nothing, and a missing/stale CURRENT can never
send a writer back to version 1 to clobber referenced data dirs (``_commit``
additionally refuses to write a manifest at or below an existing version).
Single-writer by assumption (the Spark driver of the CDC stream);
multi-writer needs a catalog/lock service, exactly as with every
manifest-based table format.

Manifest partition directories are recorded FROM A LISTING of what the
writer actually produced (Spark uses Hive path escaping — space stays
literal, ``/:=#`` etc become %XX, null/empty becomes
``__HIVE_DEFAULT_PARTITION__`` — which urllib-style quoting does not
match). Merge-side key computation mirrors that escaping via
``_hive_escape``, pinned against Spark's output by test.

Retention: old versions stay readable until ``snapshot_vacuum`` drops
their unreferenced data directories.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_M = "_manifests"

# Partition values per commit tracked in the single JSON manifest. Past this,
# driver-side manifests need hierarchical sharding (Iceberg manifest lists);
# refuse loudly rather than degrade silently. See snapshot_merge_cdc docs.
MAX_MANIFEST_PARTITIONS = 100_000


# ------------------------------------------------------------------ fs ----
def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _jpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    jvm, fs = _fs(spark, path)
    out = fs.create(_jpath(jvm, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str | None:
    jvm, fs = _fs(spark, path)
    p = _jpath(jvm, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        buf = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            buf.append(b)
        return buf.decode("utf-8")
    finally:
        stream.close()


# ---------------------------------------------------- hive path escaping --
# Mirror of Hive/Spark partition-path escaping (ExternalCatalogUtils /
# Hive FileUtils.escapePathName): control chars and `" # % ' * / : = ? [ ] \
# ^ { DEL` become uppercase %XX; space, `}`, and non-ASCII stay literal;
# null and '' both map to __HIVE_DEFAULT_PARTITION__. Pinned against actual
# Spark writer output in tests/test_snapshots.py.
_HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"
_HIVE_ESC = set('"#%\'*/:=?[]\\^{\x7f') | {chr(i) for i in range(0x20)}


def _hive_escape(value: str | None) -> str:
    if value is None or value == "":
        return _HIVE_DEFAULT
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESC else ch for ch in value
    )


def _hive_unescape(name: str) -> str | None:
    if name == _HIVE_DEFAULT:
        return None
    out, i = [], 0
    while i < len(name):
        if name[i] == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


# ------------------------------------------------------------ manifests ---
def _part_key(row, partition_by: list[str]) -> str:
    """Manifest key for a row of STRING-CAST partition values (cast with
    Spark's own `cast(string)` so e.g. booleans render 'true', matching the
    directory names the writer produced)."""
    return "/".join(f"{c}={_hive_escape(row[c])}" for c in partition_by)


def part_key_values(key: str, partition_by: list[str]) -> dict[str, str | None]:
    vals: dict[str, str | None] = {}
    for piece in key.split("/"):
        c, v = piece.split("=", 1)
        vals[c] = _hive_unescape(v)
    return {c: vals[c] for c in partition_by}


def current_version(spark: SparkSession, root: str) -> int | None:
    """The committed version: max of the CURRENT hint and the listed
    manifests. The manifest write is the commit point; CURRENT lagging or
    missing (crash in the hint update window) must not roll the table back —
    a writer that restarted at v1 would overwrite data dirs every existing
    manifest references."""
    try:
        txt = _read_text(spark, f"{root}/{_M}/CURRENT")
        hint = int(txt.strip()) if txt else None
    except Exception:
        hint = None  # torn/corrupt hint (crash mid-write) — manifests rule
    versions = list_versions(spark, root)
    top = versions[-1] if versions else None
    if hint is None:
        return top
    if top is None:
        return hint
    return max(hint, top)


def read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    txt = _read_text(spark, f"{root}/{_M}/v{version}.json")
    if txt is None:
        raise FileNotFoundError(f"no manifest for version {version} at {root}")
    return json.loads(txt)


def version_at(spark: SparkSession, root: str, ts) -> int:
    """AS-OF-TIMESTAMP time travel: the latest version whose commit
    wall-clock (``committed_at``, recorded by ``_commit``) is <= ``ts``.

    ``ts`` is epoch milliseconds, a ``datetime``, or an ISO-8601 string
    (naive strings are taken as UTC — commit stamps are UTC wall-clock).
    Manifests from before commit stamps existed sort as oldest. Raises if
    the table has no version that old."""
    import datetime as _dt

    if isinstance(ts, str):
        parsed = _dt.datetime.fromisoformat(ts)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=_dt.timezone.utc)
        ts = int(parsed.timestamp() * 1000)
    elif isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        ts = int(ts.timestamp() * 1000)
    ts = int(ts)
    best = None
    for v in list_versions(spark, root):
        committed = read_manifest(spark, root, v).get("committed_at", 0)
        if committed <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no version at {root} committed at or before {ts}"
        )
    return best


def snapshot_tag(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> int:
    """Pin a human-named TAG to a version (default: current) — the
    training-run reproducibility primitive: tag the corpus a run trained
    on (``snapshot_tag(root, 'train-2026-08')``) and every later
    ``snapshot_read(tag=...)`` resolves to exactly that version. NOTE:
    tags are names, not vacuum protection — reading a tag whose version
    was vacuumed raises, so size ``keep_last`` to cover tagged history.
    Re-tagging an existing name moves it. Returns the tagged version."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,99}", name or ""):
        raise ValueError(f"momyre: invalid tag name {name!r}")
    v = version if version is not None else current_version(spark, root)
    if v is None or v not in list_versions(spark, root):
        raise FileNotFoundError(f"no version {v} to tag at {root}")
    _write_text(
        spark,
        f"{root}/{_M}/tag-{name}.json",
        json.dumps({"name": name, "version": v}),
    )
    return v


def resolve_tag(spark: SparkSession, root: str, name: str) -> int:
    txt = _read_text(spark, f"{root}/{_M}/tag-{name}.json")
    if txt is None:
        raise FileNotFoundError(f"no tag {name!r} at {root}")
    return int(json.loads(txt)["version"])


def list_tags(spark: SparkSession, root: str) -> dict[str, int]:
    jvm, fs = _fs(spark, root)
    d = _jpath(jvm, f"{root}/{_M}")
    if not fs.exists(d):
        return {}
    out: dict[str, int] = {}
    for st in fs.listStatus(d):
        n = st.getPath().getName()
        if n.startswith("tag-") and n.endswith(".json"):
            txt = _read_text(spark, f"{root}/{_M}/{n}")
            if txt:
                rec = json.loads(txt)
                out[rec["name"]] = int(rec["version"])
    return out


def list_versions(spark: SparkSession, root: str) -> list[int]:
    jvm, fs = _fs(spark, root)
    d = _jpath(jvm, f"{root}/{_M}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _commit(spark: SparkSession, root: str, manifest: dict) -> int:
    v = manifest["version"]
    if len(manifest["partitions"]) > MAX_MANIFEST_PARTITIONS:
        raise RuntimeError(
            f"manifest for version {v} has {len(manifest['partitions'])} "
            f"partitions (> {MAX_MANIFEST_PARTITIONS}); single-JSON "
            "manifests need hierarchical sharding at this cardinality — "
            "repartition the table on a coarser key"
        )
    existing = list_versions(spark, root)
    if existing and v <= existing[-1]:
        raise RuntimeError(
            f"commit of version {v} would not advance the table "
            f"(manifests up to v{existing[-1]} exist) — concurrent writer "
            "or corrupted CURRENT hint"
        )
    # commit wall-clock for AS-OF-timestamp time travel (version_at);
    # manifests already carrying one (replays through _commit never happen,
    # but be idempotent about it) keep theirs
    if "committed_at" not in manifest:
        import time as _time

        manifest["committed_at"] = int(_time.time() * 1000)
    # COMMIT POINT: the manifest landing. CURRENT below is only a hint.
    _write_text(spark, f"{root}/{_M}/v{v}.json", json.dumps(manifest, sort_keys=True))
    jvm, fs = _fs(spark, root)
    tmp, cur = f"{root}/{_M}/CURRENT.tmp", f"{root}/{_M}/CURRENT"
    _write_text(spark, tmp, str(v))
    fs.delete(_jpath(jvm, cur), False)
    fs.rename(_jpath(jvm, tmp), _jpath(jvm, cur))
    return v


# -------------------------------------------------------- column stats ----
def _json_stat(v):
    """JSON-safe, ORDER-PRESERVING rendering of a stat bound: numbers stay
    numbers; date/timestamp become ISO strings (lexicographic == temporal);
    everything else compares as its string form."""
    import datetime
    import decimal

    if v is None or isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def _collect_stats(
    spark: SparkSession,
    dirs: dict[str, str],
    stats_cols: list[str],
    partition_by: list[str],
) -> dict[str, dict[str, list]]:
    """Per-partition [min, max] of ``stats_cols`` over freshly written
    version dirs — ONE columnar Spark job reading only the stats columns
    (parquet column pruning), grouped back to manifest keys."""
    if not dirs or not stats_cols:
        return {}
    df = spark.read.parquet(*sorted(dirs.values()))
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    if not partition_by:
        row = df.agg(*aggs).collect()[0]
        return {
            "": {c: [_json_stat(row[f"__lo_{c}"]), _json_stat(row[f"__hi_{c}"])]
                 for c in stats_cols}
        }
    keyed = df.groupBy(
        *[F.col(c).cast("string").alias(c) for c in partition_by]
    ).agg(*aggs)
    out: dict[str, dict[str, list]] = {}
    for row in keyed.collect():
        key = _part_key(row, partition_by)
        out[key] = {
            c: [_json_stat(row[f"__lo_{c}"]), _json_stat(row[f"__hi_{c}"])]
            for c in stats_cols
        }
    return out


def _stats_prune(
    stats: dict[str, dict[str, list]] | None,
    key: str,
    stats_filter: dict[str, tuple] | None,
) -> bool:
    """True iff the partition can be SKIPPED: every filter column has
    recorded bounds and at least one requested [lo, hi] interval misses
    them. Missing stats/columns/NULL bounds => must read (safe)."""
    if not stats_filter:
        return False
    part = (stats or {}).get(key)
    if part is None:
        return False
    for col, (lo, hi) in stats_filter.items():
        b = part.get(col)
        if b is None or b[0] is None or b[1] is None:
            continue
        plo, phi = b
        qlo = _json_stat(lo) if lo is not None else None
        qhi = _json_stat(hi) if hi is not None else None
        try:
            if (qhi is not None and plo > qhi) or (qlo is not None and phi < qlo):
                return True
        except TypeError:
            continue  # incomparable query/stat types — must read (safe)
    return False


# -------------------------------------------------------- expectations ----
def check_expectations(
    df: DataFrame, expectations: dict[str, str]
) -> dict[str, int]:
    """Violation counts per named CHECK expression (SQL predicates over the
    frame's columns), in ONE aggregation pass. NULL predicates count as
    satisfied — the SQL CHECK-constraint convention."""
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
        ).cast("long").alias(name)
        for name, e in expectations.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: int(row[name] or 0) for name in expectations}


def _apply_expectations(
    df: DataFrame, expectations: dict[str, str], on_violation: str
) -> tuple[DataFrame, dict[str, int]]:
    counts = check_expectations(df, expectations)
    bad = {k: v for k, v in counts.items() if v}
    if not bad:
        return df, counts
    if on_violation == "fail":
        raise ValueError(
            f"momyre: expectations violated, commit refused: {bad} "
            "(on_violation='drop' to quarantine instead)"
        )
    if on_violation != "drop":
        raise ValueError(
            f"momyre: unknown on_violation {on_violation!r} (fail|drop)"
        )
    keep = F.lit(True)
    for e in expectations.values():
        keep = keep & F.coalesce(F.expr(e), F.lit(True))
    return df.filter(keep), counts


# --------------------------------------------------------------- writes ---
def _write_version_data(
    df: DataFrame,
    root: str,
    version: int,
    partition_by: list[str] | None,
    max_records_per_file: int,
    sort_by: list[str] | None = None,
) -> dict[str, str]:
    """Write ``df`` under data/v{version}; return partition-key -> dir.

    Partition columns STAY in the data files (the physical dirs split on
    shadow ``__p_*`` copies), so a manifest's directories read back whole
    with no basePath reconstruction.

    ``sort_by`` clusters rows WITHIN each write task (sortWithinPartitions
    on partition cols + sort cols — no extra shuffle): parquet row-group
    min/max become tight on those columns, and the manifest column stats
    (``stats_cols``) become tight per partition."""
    spark = df.sparkSession
    base = f"{root}/data/v{version}"
    if sort_by:
        df = df.sortWithinPartitions(
            *[F.col(c) for c in list(partition_by or []) + list(sort_by)]
        )
    if not partition_by:
        df.write.mode("overwrite").option(
            "maxRecordsPerFile", str(max_records_per_file)
        ).parquet(base)
        return {"": base}
    shadows = {c: f"__p_{c}" for c in partition_by}
    out = df
    for c, s in shadows.items():
        out = out.withColumn(s, F.col(c).cast("string"))
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(*shadows.values())
        .parquet(base)
    )
    # Record the directories the writer ACTUALLY produced (Hive-escaped
    # names) rather than re-deriving them — the manifest can then never
    # point at a path that doesn't exist, whatever the partition values.
    dirs = {}
    spark2 = df.sparkSession
    for rel in _list_part_dirs(spark2, base, len(partition_by)):
        segs = rel.split("/")
        key = "/".join(s[len("__p_"):] if s.startswith("__p_") else s for s in segs)
        dirs[key] = f"{base}/{rel}"
    return dirs


def _list_part_dirs(spark: SparkSession, base: str, depth: int) -> list[str]:
    """Relative paths of the partition leaf dirs under ``base``, one
    ``name=value`` segment per level. Driver-side listing bounded by the
    batch's partition count (guarded by MAX_MANIFEST_PARTITIONS at commit)."""
    jvm, fs = _fs(spark, base)
    rels = [""]
    for _ in range(depth):
        nxt = []
        for rel in rels:
            p = _jpath(jvm, f"{base}/{rel}" if rel else base)
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if st.isDirectory() and "=" in name:
                    nxt.append(f"{rel}/{name}" if rel else name)
        rels = nxt
        if len(rels) > MAX_MANIFEST_PARTITIONS:
            break  # _commit raises with the precise message
    return rels


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    batch_id: int | None = None,
    stats_cols: list[str] | None = None,
    sort_by: list[str] | None = None,
    expectations: dict[str, str] | None = None,
    on_violation: str = "fail",
) -> int:
    """Commit ``df`` as a full new version. Returns the version number.

    ``expectations`` (Delta-style CHECK constraints: name -> SQL predicate,
    NULL counts as satisfied) gate the commit: ``on_violation='fail'``
    (default) refuses the whole commit with per-expectation violation
    counts; ``'drop'`` quarantines violating rows and records the dropped
    counts in the manifest (``expectation_violations``) so the audit trail
    survives with the version. One extra aggregation pass over the commit
    batch — never the table.

    ``stats_cols`` records per-partition [min, max] bounds in the manifest
    (Iceberg-style column stats): ``snapshot_read(stats_filter=...)`` then
    skips partitions whose bounds miss the requested range — data skipping
    on NON-partition columns, decided on the driver before any file IO.
    Bounds are only selective if the data is clustered on those columns;
    pass ``sort_by`` (usually the same columns) to cluster at write time.
    The stats job is one columnar scan of just those columns per commit."""
    violations: dict[str, int] = {}
    if expectations:
        df, violations = _apply_expectations(df, expectations, on_violation)
    parent = current_version(spark, root)
    v = (parent or 0) + 1
    dirs = _write_version_data(
        df, root, v, partition_by, max_records_per_file, sort_by=sort_by
    )
    man = {
        "version": v,
        "parent": parent,
        "partition_by": list(partition_by or []),
        "partitions": dirs,
        "schema": df.schema.json(),
    }
    if expectations:
        man["expectations"] = dict(expectations)
        man["expectation_violations"] = violations
    if stats_cols:
        man["stats_cols"] = list(stats_cols)
        man["stats"] = _collect_stats(spark, dirs, list(stats_cols),
                                      list(partition_by or []))
    if sort_by:
        man["sort_by"] = list(sort_by)  # compaction re-applies the clustering
    if batch_id is not None:
        man["batch_id"] = batch_id
    return _commit(spark, root, man)


def snapshot_read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    stats_filter: dict[str, tuple] | None = None,
    as_of: object | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read a version (default: current; ``as_of`` resolves a commit
    TIMESTAMP via :func:`version_at`, ``tag`` resolves a named tag via
    :func:`resolve_tag` — each mutually exclusive with ``version``).
    ``partition_filter`` prunes
    manifest entries on the driver — files of other partitions are never
    listed, let alone read. ``stats_filter`` ({col: (lo, hi)}; None bound =
    open side) additionally skips partitions whose recorded column bounds
    miss the range — data skipping on non-partition columns when the table
    was committed with ``stats_cols``. Pruning is an OPTIMIZATION only:
    callers must still apply the actual predicate (partitions without
    stats are conservatively read)."""
    if sum(x is not None for x in (version, as_of, tag)) > 1:
        raise ValueError("momyre: pass at most one of version/as_of/tag")
    if as_of is not None:
        version = version_at(spark, root, as_of)
    if tag is not None:
        version = resolve_tag(spark, root, tag)
    v = version if version is not None else current_version(spark, root)
    if v is None:
        raise FileNotFoundError(f"no committed version at {root}")
    man = read_manifest(spark, root, v)
    pby = man["partition_by"]
    schema = (
        StructType.fromJson(json.loads(man["schema"]))
        if "schema" in man
        else None
    )
    dirs = []
    for key, d in sorted(man["partitions"].items()):
        if partition_filter and key:
            vals = part_key_values(key, pby)
            if any(str(partition_filter[c]) != vals[c] for c in partition_filter):
                continue
        if _stats_prune(man.get("stats"), key, stats_filter):
            continue
        dirs.append(d)
    if not dirs:
        # Empty selection — or a legitimately empty version (a merge that
        # deleted every row commits an empty partitions map). The manifest
        # schema makes it readable as an empty DataFrame.
        if schema is not None:
            return spark.createDataFrame([], schema)
        any_dir = next(iter(man["partitions"].values()), None)
        if any_dir is None:
            raise FileNotFoundError(
                f"version {v} has no data and no recorded schema "
                "(pre-schema manifest)"
            )
        return spark.read.parquet(any_dir).limit(0)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    out = reader.parquet(*dirs)
    return out.drop(*[c for c in out.columns if c.startswith("__p_")])


# ------------------------------------------------------- MERGE rows ----
def _merge_rows(
    existing: DataFrame,
    actions: DataFrame,
    fields: dict[str, str],
    key: str = "_id",
) -> DataFrame:
    """The MERGE expression: existing rows full-outer-joined with a
    ``merge_ops_microbatch`` action frame -> post-merge rows. Semantics
    match the JDBC sink (upsert replaces, patch updates present fields,
    delete drops, patch-to-missing is a no-op).

    ADDITIVE SCHEMA EVOLUTION: a field declared in ``fields`` but absent
    from ``existing`` (the batch that first introduces a column) reads as a
    typed NULL on the existing side — pre-evolution rows keep NULL for the
    new column, exactly what a lakehouse MERGE with
    ``mergeSchema``/``schema.autoMerge`` does. Removing or retyping a
    column stays an error (silent data loss otherwise)."""
    if "__present" not in actions.columns:
        # upsert/delete-only callers need no patch field list
        actions = actions.withColumn(
            "__present", F.lit(None).cast("array<string>")
        )
    existing_cols = set(existing.columns)
    a, e = actions.alias("a"), existing.alias("e")
    ak, ek = F.col(f"a.{key}"), F.col(f"e.{key}")
    act = F.col("a.__action")
    joined = e.join(a, ek == ak, "full_outer")
    keep = ~(
        F.coalesce(act == "delete", F.lit(False))
        | ((act == "patch") & ek.isNull())  # patch to missing key: no-op
    )
    out_fields = []
    for f, ftype in fields.items():
        e_f = (
            F.col(f"e.{f}")
            if f in existing_cols
            else F.lit(None).cast(ftype)
        )
        patched = F.when(
            F.array_contains(F.col("a.__present"), F.lit(f)), F.col(f"a.{f}")
        ).otherwise(e_f)
        out_fields.append(
            F.when(act == "upsert", F.col(f"a.{f}"))
            .when(act == "patch", patched)
            .otherwise(e_f)
            .alias(f)
        )
    return joined.filter(keep).select(F.coalesce(ak, ek).alias(key), *out_fields)


def snapshot_merge_cdc(
    spark: SparkSession,
    root: str,
    actions: DataFrame,
    fields: dict[str, str],
    key: str = "_id",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
    batch_id: int | None = None,
) -> int:
    """Copy-on-write MERGE as a new version.

    Untouched partitions are re-referenced from the parent manifest (zero
    IO); affected ones (holding an acted-on key, or receiving rows) are
    rewritten under the new version's data dir; emptied ones are dropped
    from the manifest. Time travel keeps the pre-merge table readable at
    the parent version.

    With ``batch_id`` set (the streaming path passes foreachBatch's epoch),
    the committed manifest records it and a replayed batch whose id is <=
    the current manifest's is skipped — exactly-once version history under
    at-least-once delivery (without it, a replay re-commits an identical
    but version-bumped state)."""
    parent = current_version(spark, root)
    if batch_id is not None and parent is not None:
        seen = read_manifest(spark, root, parent).get("batch_id")
        if seen is not None and seen >= batch_id:
            return parent  # replayed batch — state already committed
    if parent is None:
        first = _merge_rows(
            spark.createDataFrame(
                [],
                f"`{key}` string, "
                + ", ".join(f"`{f}` {t}" for f, t in fields.items()),
            ),
            actions,
            fields,
            key,
        )
        return snapshot_write(
            spark, first, root, partition_by, max_records_per_file,
            batch_id=batch_id,
        )
    man = read_manifest(spark, root, parent)
    pby = man["partition_by"]
    if list(partition_by or []) != pby:
        raise ValueError(
            f"partition_by {partition_by} != table's {pby} (set at creation)"
        )
    existing = snapshot_read(spark, root, parent)
    v = parent + 1

    stats_cols = man.get("stats_cols")
    sort_by = man.get("sort_by")

    if not pby:
        # no lineage cut needed: the output dir (data/v{N}) never overlaps
        # the input version's files
        merged = _merge_rows(existing, actions, fields, key)
        dirs = _write_version_data(merged, root, v, None, max_records_per_file,
                                   sort_by=sort_by)
        man = {
            "version": v, "parent": parent, "partition_by": [],
            "partitions": dirs, "schema": merged.schema.json(),
        }
        if stats_cols:
            man["stats_cols"] = stats_cols
            man["stats"] = _collect_stats(spark, dirs, stats_cols, [])
        if sort_by:
            man["sort_by"] = sort_by
        if batch_id is not None:
            man["batch_id"] = batch_id
        return _commit(spark, root, man)

    touched = existing.join(actions.select(key), key, "left_semi").select(
        *pby
    ).distinct()
    incoming = (
        actions.filter(F.col("__action") != "delete").select(*pby).distinct()
    )
    affected = touched.unionByName(incoming).distinct()
    # Keys via Spark's own cast(string) + Hive escaping so they string-match
    # the directory names the writer produced (str(True) != 'true', etc.).
    affected_str = affected.select(
        [F.col(c).cast("string").alias(c) for c in pby]
    )
    affected_keys = {_part_key(r, pby) for r in affected_str.collect()}
    if len(affected_keys) > MAX_MANIFEST_PARTITIONS:
        raise RuntimeError(
            f"merge touches {len(affected_keys)} partitions "
            f"(> {MAX_MANIFEST_PARTITIONS}); repartition on a coarser key"
        )

    pruned = existing.join(F.broadcast(affected), pby, "left_semi")
    merged = _merge_rows(pruned, actions, fields, key).localCheckpoint(
        eager=True
    )
    new_dirs = _write_version_data(merged, root, v, pby, max_records_per_file,
                                   sort_by=man.get("sort_by"))

    partitions = {
        k: d
        for k, d in man["partitions"].items()
        if k not in affected_keys  # untouched: re-reference parent data
    }
    partitions.update(new_dirs)  # affected-and-nonempty: new data
    new_man = {
        "version": v,
        "parent": parent,
        "partition_by": pby,
        "partitions": partitions,
        "schema": merged.schema.json(),
    }
    if stats_cols:
        # untouched partitions keep the parent's bounds; rewritten ones are
        # re-profiled over just the new dirs (cost tracks the batch)
        carried = {
            k: s
            for k, s in (man.get("stats") or {}).items()
            if k in partitions and k not in new_dirs
        }
        carried.update(_collect_stats(spark, new_dirs, stats_cols, pby))
        new_man["stats_cols"] = stats_cols
        new_man["stats"] = carried
    if "sort_by" in man:
        new_man["sort_by"] = man["sort_by"]
    if batch_id is not None:
        new_man["batch_id"] = batch_id
    return _commit(spark, root, new_man)


def snapshot_diff(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
    key: str = "_id",
    images: bool = False,
) -> DataFrame:
    """Row-level changes between two versions (the table_changes / CDF read
    every table format grows): one row per changed key with
    ``__change in (insert, update, delete)`` and the TO-version's values
    (NULLs for deletes).

    ``images=True`` emits the Delta-CDF row shape instead: updates become
    TWO rows (``update_preimage`` with the FROM-version values,
    ``update_postimage`` with the TO-version values) and deletes carry the
    DELETED values — exactly what retraction-based incremental aggregate
    maintenance needs (``operators/incremental.refresh_aggregate_from_cdf``:
    +1 for insert/postimage, -1 for delete/preimage).

    Scale shape: only partitions whose data directory DIFFERS between the
    two manifests are read — untouched partitions were re-referenced by the
    copy-on-write merge, so their dirs are string-equal and skipped with no
    IO at all. Within the changed partitions it is one full-outer equi-join
    on the key plus a row-compare; at 100 TB the cost is proportional to
    the churned partitions, not the table.
    """
    to_v = to_version if to_version is not None else current_version(spark, root)
    if to_v is None:
        raise FileNotFoundError(f"no committed version at {root}")
    man_a = read_manifest(spark, root, from_version)
    man_b = read_manifest(spark, root, to_v)
    pa, pb = man_a["partitions"], man_b["partitions"]
    keys_a = {k for k, d in pa.items() if pb.get(k) != d}
    keys_b = {k for k, d in pb.items() if pa.get(k) != d}

    def _read(man, keys):
        schema = (
            StructType.fromJson(json.loads(man["schema"]))
            if "schema" in man
            else None
        )
        dirs = [man["partitions"][k] for k in sorted(keys)]
        if not dirs:
            if schema is None:
                raise FileNotFoundError(
                    "empty diff side needs a schema-bearing manifest"
                )
            return spark.createDataFrame([], schema)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        out = reader.parquet(*dirs)
        return out.drop(*[c for c in out.columns if c.startswith("__p_")])

    a = _read(man_a, keys_a).alias("a")
    b = _read(man_b, keys_b).alias("b")
    cols = [c for c in b.columns]
    val_cols = [c for c in cols if c != key]
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    joined = a.join(b, ka == kb, "full_outer")
    row_a = F.struct(*[F.col(f"a.{c}") for c in val_cols])
    row_b = F.struct(*[F.col(f"b.{c}") for c in val_cols])
    change = (
        F.when(ka.isNull(), F.lit("insert"))
        .when(kb.isNull(), F.lit("delete"))
        .when(~row_a.eqNullSafe(row_b), F.lit("update"))
    )
    base = joined.withColumn("__change", change).filter(
        F.col("__change").isNotNull()
    )
    if not images:
        return base.select(
            F.coalesce(kb, ka).alias(key),
            F.col("__change"),
            *[F.col(f"b.{c}").alias(c) for c in val_cols],
        )

    # Delta-CDF row shape. Old-side columns absent before a schema
    # evolution read as typed NULLs in pre-images.
    a_cols = set(a.columns)

    def _old(c):
        if c in a_cols:
            return F.col(f"a.{c}").alias(c)
        return F.lit(None).cast(b.schema[c].dataType).alias(c)

    post = base.filter(F.col("__change").isin("insert", "update")).select(
        F.coalesce(kb, ka).alias(key),
        F.when(F.col("__change") == "update", F.lit("update_postimage"))
        .otherwise(F.lit("insert"))
        .alias("__change"),
        *[F.col(f"b.{c}").alias(c) for c in val_cols],
    )
    pre = base.filter(F.col("__change").isin("delete", "update")).select(
        F.coalesce(kb, ka).alias(key),
        F.when(F.col("__change") == "update", F.lit("update_preimage"))
        .otherwise(F.lit("delete"))
        .alias("__change"),
        *[_old(c) for c in val_cols],
    )
    return post.unionByName(pre)


def snapshot_compact(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_records_per_file: int = 5_000_000,
) -> int | None:
    """Bin-pack small files into a new version (OPTIMIZE for the snapshot
    store). Streaming CDC merges commit a few rows per micro-batch; after a
    day a hot partition holds thousands of KB-sized files and every read
    pays the per-file open/footer cost. Compaction rewrites ONLY partitions
    whose file count exceeds ``ceil(bytes / target_file_bytes)``,
    re-references everything else from the parent manifest, and commits the
    result as a normal version: time travel still reads the pre-compaction
    layout, readers of the parent version are untouched (copy-on-write),
    and ``snapshot_vacuum`` reclaims the small files once the parent ages
    out. Row content is bit-identical — ``snapshot_diff(parent, new)`` is
    empty.

    Returns the new version, or None if nothing needed compacting.

    Scale shape: the candidate scan is a driver-side listing of manifest
    dirs (bounded by MAX_MANIFEST_PARTITIONS); the rewrite reads only the
    affected partitions and ``repartition(partition_by)`` routes each
    partition's rows to one task — one output file per partition (split by
    ``max_records_per_file``). A single partition larger than one task
    should carry a sub-bucket in ``partition_by`` from the start.

    The carried ``batch_id`` keeps the streaming replay-skip contract: a
    replayed micro-batch arriving after a compaction still sees the highest
    applied epoch.
    """
    v = current_version(spark, root)
    if v is None:
        raise FileNotFoundError(f"no committed version at {root}")
    man = read_manifest(spark, root, v)
    pby = man["partition_by"]
    jvm, fs = _fs(spark, root)
    affected: dict[str, str] = {}
    total_affected_bytes = 0
    for key, d in man["partitions"].items():
        p = _jpath(jvm, d)
        files = [
            st
            for st in fs.listStatus(p)
            if st.getPath().getName().endswith(".parquet")
        ]
        size = sum(st.getLen() for st in files)
        ideal = max(1, -(-size // target_file_bytes))
        if len(files) > ideal:
            affected[key] = d
            total_affected_bytes += size
    if not affected:
        return None

    new_v = v + 1
    schema = (
        StructType.fromJson(json.loads(man["schema"])) if "schema" in man else None
    )
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(*sorted(affected.values()))
    df = df.drop(*[c for c in df.columns if c.startswith("__p_")])
    if pby:
        df = df.repartition(*[F.col(c) for c in pby])
    else:
        df = df.coalesce(
            max(1, -(-total_affected_bytes // target_file_bytes))
        )
    new_dirs = _write_version_data(
        df, root, new_v, pby or None, max_records_per_file,
        sort_by=man.get("sort_by"),
    )
    partitions = {
        k: d for k, d in man["partitions"].items() if k not in affected
    }
    partitions.update(new_dirs)
    new_man = {
        "version": new_v,
        "parent": v,
        "partition_by": pby,
        "partitions": partitions,
        "schema": man["schema"] if "schema" in man else df.schema.json(),
    }
    if "stats_cols" in man:
        # row content is unchanged, so every partition's bounds carry over
        new_man["stats_cols"] = man["stats_cols"]
        new_man["stats"] = {
            k: s for k, s in (man.get("stats") or {}).items() if k in partitions
        }
    if "sort_by" in man:
        new_man["sort_by"] = man["sort_by"]
    for zk in ("zorder_by", "zorder_bits"):
        if zk in man:
            # carried as INFORMATION — compaction re-sorts rewritten
            # partitions by sort_by, so their z-clustering degrades until
            # snapshot_zorder is re-run (untouched partitions keep theirs)
            new_man[zk] = man[zk]
    if "batch_id" in man:
        new_man["batch_id"] = man["batch_id"]
    _commit(spark, root, new_man)
    return new_v


def snapshot_zorder(
    spark: SparkSession,
    root: str,
    zorder_by: list[str],
    bits: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_records_per_file: int = 5_000_000,
) -> int:
    """Re-cluster the current version on a Z-ORDER curve over ``zorder_by``
    (multi-column data skipping — the OPTIMIZE ZORDER of lakehouse tables).

    A single ``sort_by`` makes file/row-group min-max stats tight on ONE
    column; a multi-column predicate still scans everything clustered only
    by the leading column. Z-ordering interleaves the bits of each row's
    per-column QUANTILE-BUCKET ranks (equi-depth, so skew cannot collapse
    the curve the way raw-value interleaving would) and range-partitions +
    sorts on that single z-value: every output file then covers a small
    hyper-rectangle of the zorder space, so parquet footer min/max prune
    files for predicates on ANY subset of the columns.

    Mechanics: one ``approxQuantile`` pass collects ``2^bits - 1`` bucket
    boundaries per column to the driver (256-bucket default ≈ 2 KB/column —
    never the data); bucketing + bit-interleaving are pure codegen
    expressions; then ONE range shuffle sized by the version's bytes. Commit
    is copy-on-write like compaction: row content is bit-identical
    (``snapshot_diff(parent, new)`` is empty), time travel still reads the
    parent layout, partition-level manifest stats carry over unchanged.
    ``zorder_by`` must be numeric/date/timestamp (rank-able); NULLs sort to
    bucket 0. Recorded as ``zorder_by`` in the manifest; note a later
    ``snapshot_compact`` re-sorts affected partitions by the ORIGINAL
    ``sort_by`` — re-run zorder after heavy compaction if both are used.
    """
    if not zorder_by:
        raise ValueError("momyre: zorder_by must name at least one column")
    if not 1 <= bits <= 16:
        raise ValueError("momyre: bits must be in [1, 16]")
    v = current_version(spark, root)
    if v is None:
        raise FileNotFoundError(f"no committed version at {root}")
    man = read_manifest(spark, root, v)
    pby = man["partition_by"]
    schema = (
        StructType.fromJson(json.loads(man["schema"])) if "schema" in man else None
    )
    reader = spark.read.schema(schema) if schema is not None else spark.read
    dirs = sorted(man["partitions"].values())
    if not dirs:
        raise ValueError(f"momyre: version {v} at {root} has no data to cluster")
    df = reader.parquet(*dirs)
    df = df.drop(*[c for c in df.columns if c.startswith("__p_")])
    missing = [c for c in zorder_by if c not in df.columns]
    if missing:
        raise ValueError(f"momyre: zorder_by columns not in table: {missing}")
    for c in zorder_by:
        t = df.schema[c].dataType.typeName()
        if t not in {
            "byte", "short", "integer", "long", "float", "double", "decimal",
            "date", "timestamp", "timestamp_ntz",
        }:
            raise ValueError(
                f"momyre: zorder column {c!r} has un-rankable type {t}; "
                "hash string keys to a numeric column first"
            )

    # equi-depth bucket boundaries, one approxQuantile job for all columns
    n_buckets = 1 << bits
    zcast = {c: f"__zd_{i}" for i, c in enumerate(zorder_by)}
    casted = df.select(
        *[F.col(c).cast("timestamp").cast("double").alias(a)
          if df.schema[c].dataType.typeName().startswith("timestamp")
          or df.schema[c].dataType.typeName() == "date"
          else F.col(c).cast("double").alias(a)
          for c, a in zcast.items()]
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = casted.approxQuantile(
        list(zcast.values()), probs, 1.0 / (4 * n_buckets)
    )

    # Per column: bucket rank = #boundaries <= value, found by BINARY
    # SEARCH over the sorted boundary list built as a nested-IF expression
    # tree — `bits` comparisons per row instead of a 2^bits-element linear
    # fold (at bits=8 that is 8 vs 255 compares per row per column; the
    # fold was the dominant cost of the whole re-cluster). Identical
    # result: upper-bound index over a non-decreasing list == the fold's
    # count of boundaries <= value, with NULL -> bucket 0 either way. The
    # INTERLEAVE spread — bit b of column c lands at z-position b*k + c —
    # binds the rank through a 1-element aggregate lambda so the search
    # tree is evaluated exactly once per row, not once per output bit.
    k = len(zorder_by)

    def _rank_sql(src: str, bds: list[float]) -> str:
        def rec(lo: int, hi: int) -> str:
            if lo == hi:
                return str(lo)
            mid = (lo + hi) // 2
            return (
                f"IF({src} >= CAST({bds[mid]!r} AS DOUBLE), "
                f"{rec(mid + 1, hi)}, {rec(lo, mid)})"
            )

        return f"IF({src} IS NULL, 0, {rec(0, len(bds))})"

    contribs = []
    for i, c in enumerate(zcast):
        src = (
            f"CAST(CAST(`{c}` AS TIMESTAMP) AS DOUBLE)"
            if df.schema[c].dataType.typeName().startswith("timestamp")
            or df.schema[c].dataType.typeName() == "date"
            else f"CAST(`{c}` AS DOUBLE)"
        )
        spread = " + ".join(
            f"shiftleft(CAST(shiftright(acc, {b}) & 1 AS BIGINT), {b * k + i})"
            for b in range(bits)
        )
        contribs.append(
            f"aggregate(array(CAST({_rank_sql(src, bounds[i])} AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, b) -> b, acc -> {spread})"
        )
    zexpr = " + ".join(contribs)

    jvm, fs = _fs(spark, root)
    total = 0
    for d in dirs:
        for st in fs.listStatus(_jpath(jvm, d)):
            if st.getPath().getName().endswith(".parquet"):
                total += st.getLen()
    n_ranges = max(1, -(-total // target_file_bytes))

    parts = [F.col(c) for c in (pby or [])] + [F.col("__z")]
    zdf = (
        df.withColumn("__z", F.expr(zexpr))
        .repartitionByRange(n_ranges, *parts)
        .sortWithinPartitions(*parts)
        .drop("__z")
    )
    new_v = v + 1
    new_dirs = _write_version_data(
        zdf, root, new_v, pby or None, max_records_per_file, sort_by=None
    )
    new_man = {
        "version": new_v,
        "parent": v,
        "partition_by": pby,
        "partitions": new_dirs,
        "schema": man["schema"] if "schema" in man else df.schema.json(),
        "zorder_by": list(zorder_by),
        "zorder_bits": bits,
    }
    if "stats_cols" in man:
        # row content per partition is unchanged — bounds carry over
        new_man["stats_cols"] = man["stats_cols"]
        new_man["stats"] = {
            k2: s for k2, s in (man.get("stats") or {}).items() if k2 in new_dirs
        }
    if "batch_id" in man:
        new_man["batch_id"] = man["batch_id"]
    _commit(spark, root, new_man)
    return new_v


def snapshot_history(spark: SparkSession, root: str) -> list[dict]:
    """DESCRIBE HISTORY for the snapshot store: one dict per live version
    (oldest first) with version, parent, committed_at, batch_id, partition
    counts, and which partitions were REWRITTEN vs re-referenced from the
    parent — the operational audit of what each commit touched.
    Driver-side manifest reads only; never touches data files."""
    out = []
    manifests = {
        v: read_manifest(spark, root, v) for v in list_versions(spark, root)
    }
    for v in sorted(manifests):
        man = manifests[v]
        parent = man.get("parent")
        pparts = (
            manifests.get(parent, {}).get("partitions", {})
            if parent is not None
            else {}
        )
        rewritten = sum(
            1 for k, d in man["partitions"].items() if pparts.get(k) != d
        )
        out.append(
            {
                "version": v,
                "parent": parent,
                "committed_at": man.get("committed_at"),
                "batch_id": man.get("batch_id"),
                "n_partitions": len(man["partitions"]),
                "n_rewritten": rewritten,
                "n_rereferenced": len(man["partitions"]) - rewritten,
                "zorder_by": man.get("zorder_by"),
                "expectation_violations": man.get("expectation_violations"),
            }
        )
    return out


def snapshot_vacuum(
    spark: SparkSession,
    root: str,
    keep_last: int = 2,
    sweep_orphans: bool = False,
) -> list[int]:
    """Drop manifests older than the newest ``keep_last`` versions and
    delete data directories no kept version references. Returns the expired
    version numbers. Time travel works within the retention window; vacuum
    bounds storage growth.

    ``sweep_orphans=True`` additionally deletes ``data/v{N}`` directories
    with no manifest at any version — the residue of a commit that crashed
    AFTER writing data but BEFORE its manifest landed (the manifest is the
    commit point, so such data was never part of the table; a later commit
    at the same version overwrites it, but a tail crash leaves it forever).
    Orphans above the current version are indistinguishable from an
    IN-FLIGHT writer's work-in-progress, so the sweep is opt-in and must
    only run when no writer is active (the CLI maintain mode's situation,
    not a live stream's)."""
    versions = list_versions(spark, root)
    jvm, fs = _fs(spark, root)
    drop: list[int] = []
    if len(versions) > keep_last:
        keep, drop = versions[-keep_last:], versions[:-keep_last]
        referenced: set[str] = set()
        for v in keep:
            referenced.update(
                read_manifest(spark, root, v)["partitions"].values()
            )
        for v in drop:
            for d in read_manifest(spark, root, v)["partitions"].values():
                if d not in referenced:
                    fs.delete(_jpath(jvm, d), True)
            fs.delete(_jpath(jvm, f"{root}/{_M}/v{v}.json"), False)
    if sweep_orphans:
        live = set(list_versions(spark, root))
        # copy-on-write: live manifests may re-reference dirs under a
        # version whose own manifest is gone — those data roots must stay
        still_referenced: set[str] = set()
        for v in live:
            for d in read_manifest(spark, root, v)["partitions"].values():
                rel = d.split("/data/", 1)
                if len(rel) == 2:
                    still_referenced.add(rel[1].split("/", 1)[0])
        data = _jpath(jvm, f"{root}/data")
        if fs.exists(data):
            for st in fs.listStatus(data):
                name = st.getPath().getName()
                if (
                    st.isDirectory()
                    and name.startswith("v")
                    and name[1:].isdigit()
                    and int(name[1:]) not in live
                    and name not in still_referenced
                ):
                    fs.delete(st.getPath(), True)
    return drop


def snapshot_rollback(
    spark: SparkSession, root: str, to_version: int
) -> int:
    """Roll the table back to ``to_version`` — AS A NEW VERSION.

    Copy-on-write makes rollback free: the new manifest simply re-references
    the target version's partition directories (and carries its schema and
    stats); no data moves, history stays intact, and time travel still
    reaches the rolled-back-over versions. This is Iceberg/Delta RESTORE
    semantics — the audit trail records that a rollback happened, unlike
    rewriting CURRENT in place (which would orphan newer versions' data
    against the vacuum contract).

    The restored version must still be within the vacuum retention horizon;
    reading it (snapshot_read) validates the directories exist.
    """
    man = read_manifest(spark, root, to_version)
    parent = current_version(spark, root)
    if parent is None:
        raise RuntimeError("momyre: cannot roll back an empty table")
    if to_version == parent:
        return parent  # already current — no empty commit
    new = {
        "version": parent + 1,
        "parent": parent,
        "restored_from": to_version,
        "partition_by": man.get("partition_by", []),
        "partitions": dict(man["partitions"]),
    }
    if "schema" in man:  # pre-schema manifests restore without one
        new["schema"] = man["schema"]
    for carry in ("stats_cols", "stats", "sort_by"):
        if carry in man:
            new[carry] = man[carry]
    return _commit(spark, root, new)


def register_snapshot_view(
    spark: SparkSession,
    root: str,
    view_name: str,
    version: int | None = None,
    partition_filter: dict | None = None,
) -> None:
    """Expose a snapshot version to ``spark.sql`` as a temp view — the
    SQL face of time travel:

        register_snapshot_view(spark, root, "docs_v3", version=3)
        spark.sql("SELECT source, count(*) FROM docs_v3 GROUP BY 1")

    The view is bound to the version's manifest at registration time, so
    concurrent ingestion never shifts the data under a running SQL session
    (reader isolation carries over to the SQL surface).
    """
    df = snapshot_read(
        spark, root, version=version, partition_filter=partition_filter
    )
    df.createOrReplaceTempView(view_name)
