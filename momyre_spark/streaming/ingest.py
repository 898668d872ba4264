"""Streaming corpus ingestion: continuous crawl batches -> curated,
deduplicated, versioned training corpus.

The streaming twin of the batch curation path: each micro-batch of raw
documents is quality-gated (map-only), exact-deduplicated against the
WHOLE corpus so far (``operators/dedup.dedup_incremental`` — the corpus
participates as its fingerprint table, O(|batch|) whatever the corpus
size), and the survivors are committed to the versioned snapshot store as
a new copy-on-write version. Readers time-travel a consistent corpus while
ingestion runs; a stalled crawler resumes from its checkpoint.

Exactly-once without a transaction spanning the two sinks:

- the SNAPSHOT commit carries foreachBatch's epoch as ``batch_id`` —
  ``snapshot_merge_cdc`` skips a replayed epoch outright;
- the FINGERPRINT table is laid out one directory per epoch
  (``_fps/epoch=N``, dynamic overwrite) — a replay rewrites the same
  directory with the same rows (survivors are a deterministic function of
  the batch and the PRE-batch fingerprint state, which a replay sees
  unchanged because this epoch's own fps live in the directory being
  rewritten and are excluded from the anti-join by the epoch filter).

Crash between the two writes replays the epoch: the snapshot skips, the
fps directory is (re)written — both sides converge.

State layout (base + tail). A long-running ingest accumulates one
``epoch=N`` directory per micro-batch; after thousands of epochs every
batch would re-open thousands of small files. Each state table is
therefore BASE + TAIL:

- tail: ``{table}/epoch=N`` directories, exactly one per un-compacted
  epoch (partition column ``epoch`` — a replay's ``epoch < E`` filter
  partition-prunes its own rewritten directory);
- base: ``{table}_base/v=K`` — all epochs up to some cutoff folded into
  one clustered directory (``_lsh_bands`` clustered by ``bh``, ``_fps``
  by ``fp``, ``_lsh_sigs`` by id) with the original ``epoch`` kept as a
  data column, so the replay filter applies uniformly.

``compact_ingest_state`` folds tail epochs into a NEW base version, then
removes the folded tail directories and the old base: readers take the max
``v`` whose directory carries the writer's ``_SUCCESS`` marker — a crash
mid-rewrite leaves a marker-less partial that readers ignore and the next
compaction deletes; the old base and folded tail are only dropped AFTER
the new marker is verified. So every crash window leaves a readable state
(the
worst case is rows present in both the new base and a not-yet-deleted
tail epoch — harmless: fingerprints are membership, and the LSH probe
``distinct``s candidates — and the next compaction's ``distinct``
self-heals the overlap). The cutoff never includes the newest tail epoch:
only the LAST epoch can ever replay (earlier ones have committed
checkpoints), and its overwrite idempotence needs its directory intact.

Reference behavior matched: bounded incremental CDC state
(``/root/reference/app/mongo.go:456-539`` consumes the oplog with bounded
resume state rather than rescanning history).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from momyre_spark.functions.text import fingerprint, quality_score, token_count

_STATE_TABLES = ("_fps", "_lsh_bands", "_lsh_sigs")
# clustering column per state table: the base rewrite repartitions on it so
# probe joins and row-group stats line up with the access pattern
_CLUSTER_COL = {"_fps": "fp", "_lsh_bands": "bh", "_lsh_sigs": None}


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _missing(e: AnalysisException) -> bool:
    return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)


def _list_base_versions(
    spark: SparkSession, base_dir: str
) -> tuple[list[int], list[int]]:
    """(committed, uncommitted) base versions. A version is COMMITTED only
    if its directory holds the writer's ``_SUCCESS`` marker — a crash mid
    base rewrite leaves a marker-less partial directory that must never be
    read as authoritative state (it would silently pass every replayed doc
    through dedup) nor trigger cleanup of the last complete base."""
    jvm, fs = _fs(spark, base_dir)
    p = jvm.org.apache.hadoop.fs.Path(base_dir)
    if not fs.exists(p):
        return [], []
    committed, partial = [], []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            v = int(name[2:])
            marker = jvm.org.apache.hadoop.fs.Path(
                f"{base_dir}/{name}/_SUCCESS"
            )
            (committed if fs.exists(marker) else partial).append(v)
    return sorted(committed), sorted(partial)


def _base_versions(spark: SparkSession, base_dir: str) -> list[int]:
    return _list_base_versions(spark, base_dir)[0]


def _tail_epochs(spark: SparkSession, tail_dir: str) -> list[int]:
    jvm, fs = _fs(spark, tail_dir)
    p = jvm.org.apache.hadoop.fs.Path(tail_dir)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("epoch="):
            out.append(int(name[6:]))
    return sorted(out)


def read_ingest_state(
    spark: SparkSession, root: str, table: str, schema: str, epoch: int
) -> DataFrame:
    """State visible to ``epoch``: base (max version) + tail, rows with
    ``epoch < epoch`` only — a replayed epoch never sees its own rewritten
    state. ``schema`` is the data columns (without ``epoch``)."""
    tail_dir = f"{root}/{table}"
    base_dir = f"{root}/{table}_base"
    cols = [f.strip().split()[0] for f in schema.split(",")]
    sel = [*cols, F.col("epoch").cast("long").alias("epoch")]
    frames = []
    versions = _base_versions(spark, base_dir)
    if versions:
        frames.append(
            spark.read.parquet(f"{base_dir}/v={versions[-1]}").select(*sel)
        )
    try:
        # ONLY a missing tail means "no epochs yet" — any other read failure
        # fails the batch rather than silently deduping against an empty
        # corpus and committing duplicates.
        frames.append(
            spark.read.parquet(tail_dir)
            .filter(F.col("epoch") < epoch)
            .select(*sel)
        )
    except AnalysisException as e:
        if not _missing(e):
            raise
    if not frames:
        return spark.createDataFrame([], schema + ", epoch long")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.filter(F.col("epoch") < epoch)


def compact_ingest_state(
    spark: SparkSession,
    root: str,
    base_files: int = 8,
    keep_tail: int = 1,
) -> dict[str, int]:
    """Fold tail ``epoch=N`` directories into one clustered base version per
    state table (the maintenance twin of ``sinks.snapshots.snapshot_compact``
    for the ingest dedup state). Keeps the newest ``keep_tail`` tail epochs
    un-folded (>= 1: the newest epoch may still replay and must keep its
    overwrite-idempotent directory). Returns {table: epochs_folded}.

    Safe to run while the stream is live (between batches) or offline; every
    crash window leaves a readable, correct state (see module docstring)."""
    if keep_tail < 1:
        raise ValueError("momyre: keep_tail must be >= 1")

    def _compact_one(table: str) -> int:
        tail_dir = f"{root}/{table}"
        base_dir = f"{root}/{table}_base"
        epochs = _tail_epochs(spark, tail_dir)
        to_fold = epochs[:-keep_tail] if keep_tail else epochs
        versions, partial = _list_base_versions(spark, base_dir)
        jvm, fs = _fs(spark, root)
        # drop marker-less partials from a crashed rewrite (never read,
        # never authoritative) and stale COMMITTED versions below the max
        for v in partial + versions[:-1]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base_dir}/v={v}"), True)
        highest = max(versions + partial) if (versions or partial) else 0
        versions = versions[-1:]
        if not to_fold:
            return 0
        frames = []
        if versions:
            frames.append(spark.read.parquet(f"{base_dir}/v={versions[0]}"))
        tail = (
            spark.read.parquet(tail_dir)
            .filter(F.col("epoch") <= to_fold[-1])
            .withColumn("epoch", F.col("epoch").cast("long"))
        )
        frames.append(tail.select(*frames[0].columns) if frames else tail)
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        # distinct self-heals base/tail overlap from a prior crash window
        merged = merged.distinct()
        cluster = _CLUSTER_COL.get(table)
        if cluster and cluster in merged.columns:
            merged = merged.repartition(base_files, cluster)
        else:
            merged = merged.repartition(base_files)
        new_v = highest + 1
        merged.write.mode("overwrite").parquet(f"{base_dir}/v={new_v}")
        # COMMIT POINT: the old base and folded tail are destroyed only
        # after the new base's _SUCCESS marker is verified on disk — a
        # crash anywhere before this leaves the previous committed base
        # authoritative and the marker-less partial ignored/cleaned later.
        if not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{base_dir}/v={new_v}/_SUCCESS")
        ):
            raise RuntimeError(
                f"momyre: base rewrite {base_dir}/v={new_v} completed "
                "without a _SUCCESS marker; refusing to drop prior state "
                "(is mapreduce.fileoutputcommitter.marksuccessfuljobs off?)"
            )
        # new base committed -> drop folded tail dirs, then the old base
        for e in to_fold:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{tail_dir}/epoch={e}"), True
            )
        if versions:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{base_dir}/v={versions[0]}"),
                True,
            )
        return len(to_fold)

    # the state tables live in disjoint directories and share nothing, so
    # their read->distinct->rewrite jobs overlap (guide §2.6): each job's
    # straggler tail back-fills with the next table's tasks instead of
    # idling the executors. 3 concurrent jobs on 3 tables.
    # inheritable_thread_target copies the caller's JVM-thread-local
    # properties (job group/description) onto each pool thread, so when
    # this runs inside a streaming foreachBatch the compaction jobs stay
    # under the query's job group (query.stop() cancellation + UI
    # attribution) instead of escaping it under pinned-thread mode.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(_STATE_TABLES)) as pool:
        futures = {
            t: pool.submit(inheritable_thread_target(_compact_one), t)
            for t in _STATE_TABLES
        }
        counts: dict[str, int] = {}
        errors: dict[str, Exception] = {}
        # Exception, not BaseException: Ctrl-C and SystemExit are not a
        # table's failure and propagate at once
        for t, fut in futures.items():
            try:
                counts[t] = fut.result()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                errors[t] = exc
    if errors:
        # every table ran to completion either way; surface ALL failures
        # (pool.map re-raised only the first in _STATE_TABLES order and
        # silently swallowed the rest), then re-raise the first so callers
        # see the same exception type as the old sequential code
        first_table = next(iter(errors))
        if len(errors) > 1:
            import logging

            for t, exc in errors.items():
                if t != first_table:
                    logging.getLogger(__name__).error(
                        "momyre: state-table compaction for %r also "
                        "failed: %s", t, exc,
                    )
        raise errors[first_table]
    return counts


def ingest_state_report(spark: SparkSession, root: str) -> dict[str, dict]:
    """Operational report of the dedup-state layout per table: base
    version + file count, un-compacted tail epochs + file count — the
    "do I need to compact" probe (mirrors ``snapshots.snapshot_history``
    for the ingest side). Driver-side listing only; never reads data."""
    jvm, fs = _fs(spark, root)

    def _files(path: str) -> int:
        p = jvm.org.apache.hadoop.fs.Path(path)
        if not fs.exists(p):
            return 0
        it, n = fs.listFiles(p, True), 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    out: dict[str, dict] = {}
    for table in _STATE_TABLES:
        tail_dir = f"{root}/{table}"
        base_dir = f"{root}/{table}_base"
        versions, partial = _list_base_versions(spark, base_dir)
        epochs = _tail_epochs(spark, tail_dir)
        out[table] = {
            "base_version": versions[-1] if versions else None,
            "base_files": (
                _files(f"{base_dir}/v={versions[-1]}") if versions else 0
            ),
            # marker-less partials from a crashed rewrite: ignored by
            # readers, cleaned by the next compaction — surfaced here so
            # operators can see a crash happened
            "partial_bases": len(partial),
            "tail_epochs": len(epochs),
            "tail_files": _files(tail_dir),
        }
    return out


def ingest_batch(
    batch_df: DataFrame,
    epoch: int,
    root: str,
    fields: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 3,
    min_quality: float = 0.0,
    partition_by: list[str] | None = None,
    fuzzy_threshold: float | None = None,
    fuzzy_num_hashes: int = 128,
    fuzzy_bands: int = 32,
    compact_every: int | None = None,
    ivf_root: str | None = None,
    ivf_vec_col: str = "embedding",
    ivf_kind: str = "ivf",
) -> None:
    """One epoch of the gate -> incremental-dedup -> snapshot-commit loop.

    Module-level (not a closure) so batch jobs and tests can drive epochs
    directly; ``start_corpus_ingest`` wraps it in foreachBatch. Replay-safe
    for the SAME epoch (see module docstring).

    ``ivf_root``: when set (and ``ivf_vec_col`` is among ``fields``), each
    epoch's dedup survivors are ALSO appended to the persisted IVF ANN
    index at that root (``operators/similarity.ivf_index_add`` — O(batch)
    assignment to the existing cells, epoch-directory idempotent like the
    dedup state), keeping similarity search fresh without per-epoch index
    rebuilds. ``ivf_kind='ivfpq'`` maintains a :func:`operators.pq.
    build_ivfpq_index` index instead (same O(batch)/epoch-idempotent
    contract; rows are PQ-encoded with the stored codebooks)."""
    from momyre_spark.operators.dedup import (
        dedup_incremental,
        dedup_incremental_fuzzy,
    )
    from momyre_spark.sinks.snapshots import snapshot_merge_cdc

    spark = batch_df.sparkSession
    cols = list(fields)
    t = F.col(text_col)
    gated = batch_df.filter(
        (token_count(t) >= min_tokens) & (quality_score(t) >= min_quality)
    )
    fps = read_ingest_state(spark, root, "_fps", "fp string", epoch)
    survivors = dedup_incremental(gated, fps, id_col=id_col, text_col=text_col)
    surv_bands = surv_sigs = None
    persisted: list[DataFrame] = []
    try:
        if fuzzy_threshold is not None:
            bands = read_ingest_state(
                spark, root, "_lsh_bands",
                f"{id_col} long, band int, bh long", epoch,
            )
            sigs = read_ingest_state(
                spark, root, "_lsh_sigs",
                f"{id_col} long, signature array<bigint>", epoch,
            )
            survivors, surv_bands, surv_sigs = dedup_incremental_fuzzy(
                survivors,
                bands.drop("epoch"),
                sigs.drop("epoch"),
                threshold=fuzzy_threshold,
                num_hashes=fuzzy_num_hashes,
                bands=fuzzy_bands,
                id_col=id_col,
                text_col=text_col,
                persisted=persisted,
            )
            # each frame feeds 1-2 sink writes below; uncached, every write
            # replays the multi-join dedup DAG from scratch
            from pyspark import StorageLevel

            for frame in (survivors, surv_bands, surv_sigs):
                frame.persist(StorageLevel.MEMORY_AND_DISK)
                persisted.append(frame)
        acts = survivors.select(
            F.col(id_col).cast("string").alias("_id"),
            F.lit("upsert").alias("__action"),
            *cols,
            F.array(*[F.lit(c) for c in cols]).alias("__present"),
        )
        snapshot_merge_cdc(
            spark,
            root,
            acts,
            fields,
            partition_by=partition_by,
            batch_id=epoch,
        )
        (
            survivors.select(fingerprint(t).alias("fp"))
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{root}/_fps/epoch={epoch}")
        )
        if fuzzy_threshold is not None:
            surv_bands.write.mode("overwrite").parquet(
                f"{root}/_lsh_bands/epoch={epoch}"
            )
            surv_sigs.write.mode("overwrite").parquet(
                f"{root}/_lsh_sigs/epoch={epoch}"
            )
        if ivf_root is not None and ivf_vec_col in cols:
            # guard the kind against the on-disk layout: plain ivf adds
            # into a PQ index would leave NULL pq_code tail rows that ADC
            # search cannot rank (it excludes them) — fail loud at ingest
            # instead of silently shrinking the searchable corpus
            from momyre_spark.operators.similarity import _ivf_fs

            jvm, fs = _ivf_fs(spark, ivf_root)
            has_books = fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{ivf_root}/codebooks")
            )
            if has_books != (ivf_kind == "ivfpq"):
                raise ValueError(
                    f"ingest_batch: ivf_kind={ivf_kind!r} does not match "
                    f"the index layout at {ivf_root} "
                    f"({'has' if has_books else 'no'} codebooks/)"
                )
            if ivf_kind == "ivfpq":
                from momyre_spark.operators.pq import (
                    ivfpq_index_add as ivf_index_add,
                )
            else:
                from momyre_spark.operators.similarity import ivf_index_add

            ivf_index_add(
                spark,
                ivf_root,
                survivors.select(id_col, ivf_vec_col),
                epoch=epoch,
                id_col=id_col,
                vec_col=ivf_vec_col,
            )
    finally:
        # one cached sigs frame per epoch would otherwise outlive the batch
        # for the life of the stream (executor storage leak)
        for df in persisted:
            df.unpersist()
    if compact_every and epoch > 0 and epoch % compact_every == 0:
        compact_ingest_state(spark, root)


def start_corpus_ingest(
    docs_stream: DataFrame,
    root: str,
    checkpoint: str,
    fields: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 3,
    min_quality: float = 0.0,
    partition_by: list[str] | None = None,
    trigger: dict | None = None,
    fuzzy_threshold: float | None = None,
    fuzzy_num_hashes: int = 128,
    fuzzy_bands: int = 32,
    compact_every: int | None = 32,
    ivf_root: str | None = None,
    ivf_vec_col: str = "embedding",
    ivf_kind: str = "ivf",
) -> StreamingQuery:
    """Run the gate -> incremental-dedup -> snapshot-commit loop over a
    streaming frame of documents. ``fields`` is the snapshot column->type
    spec (must include ``text_col``; ``id_col`` is the merge key).

    ``fuzzy_threshold`` additionally drops NEAR-duplicates of the corpus:
    the LSH state (banded MinHash keys + signatures,
    ``operators/dedup.dedup_incremental_fuzzy``) is maintained next to the
    fingerprint table with the same epoch-directory idempotence — a replay
    rewrites its own epoch's state and probes only earlier epochs.

    Every ``compact_every`` epochs the epoch directories fold into a single
    clustered base (``compact_ingest_state``) so per-batch state reads stay
    bounded at O(base + compact_every) files forever. Returns the started
    StreamingQuery."""

    def apply(batch_df: DataFrame, epoch: int) -> None:
        ingest_batch(
            batch_df,
            epoch,
            root,
            fields,
            id_col=id_col,
            text_col=text_col,
            min_tokens=min_tokens,
            min_quality=min_quality,
            partition_by=partition_by,
            fuzzy_threshold=fuzzy_threshold,
            fuzzy_num_hashes=fuzzy_num_hashes,
            fuzzy_bands=fuzzy_bands,
            compact_every=compact_every,
            ivf_root=ivf_root,
            ivf_vec_col=ivf_vec_col,
            ivf_kind=ivf_kind,
        )

    writer = docs_stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
