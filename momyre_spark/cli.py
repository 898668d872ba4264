"""CLI driver — program-level parity with the reference binary.

The reference runs as ``momyre --force --zerop --inp <mongo-url> --out
<mysql-url>`` with ``momyre.yml`` beside it (``/root/reference/main.go:31-35``,
``app/run.go:38-64``). This CLI keeps the same surface:

    python -m momyre_spark.cli --config momyre.yml [--force] [--zerop]
        [--inp mongodb://...] [--out mysql://user:pw@host/db]
        [--mode batch|stream|both] [--checkpoint DIR]

- ``--force``  : allow destructive DDL (drop extra tables/columns)
- ``--zerop``  : resync everything from scratch
- ``--inp/--out``: URL overrides (run.go:127-132)
- batch mode   : DDL reconcile + snapshot + orphan delete (§3.1)
- stream mode  : continuous CDC via Structured Streaming (§3.2)
- ``--lake-root``: batch/stream into the versioned snapshot store instead of
  MySQL; ``--mode maintain`` compacts, z-orders and vacuums that store

The Mongo source needs the Spark connector jar and the MySQL sink a DBAPI
driver — both absent in this dev container, so ``main`` wires everything and
fails with clear messages at the missing boundary; unit tests cover the
wiring (arg parsing, spec load, engine construction) with injected sources.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Callable
from urllib.parse import urlparse

from momyre_spark.spec import Spec, parse_spec


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="momyre-spark", description="PySpark-native Mongo->MySQL replicator"
    )
    p.add_argument("--config", default="momyre.yml", help="replication spec path")
    p.add_argument("--force", action="store_true",
                   help="allow destructive DDL (drop extra tables/columns)")
    p.add_argument("--zerop", action="store_true",
                   help="ignore checkpoints, resync from scratch")
    p.add_argument("--inp", default=None, help="MongoDB URL override")
    p.add_argument("--out", default=None, help="MySQL URL override")
    p.add_argument("--mode",
                   choices=["batch", "stream", "both", "maintain", "prep"],
                   default="both",
                   help="batch: snapshot (+ orphan delete into the JDBC "
                        "sink); stream: CDC; both: batch then stream. With "
                        "--lake-root, batch and stream commit versions to "
                        "the snapshot store, which maintain compacts, "
                        "z-orders and vacuums. prep: training-data prep")
    p.add_argument("--checkpoint", default="/tmp/momyre-spark-ckpt",
                   help="Structured Streaming checkpoint dir")
    p.add_argument("--sink-partitions", type=int, default=8,
                   help="max concurrent sink connections")
    p.add_argument("--lake-root", default=None,
                   help="write to the versioned snapshot store at this root "
                        "instead of the JDBC sink (one version per "
                        "snapshot/micro-batch; time travel)")
    p.add_argument("--ts-guard-col", default=None,
                   help="sink sequence column: guard every write by the "
                        "per-key high-water mark (out-of-order transports)")
    p.add_argument("--tombstone-col", default=None,
                   help="with --ts-guard-col: soft deletes keep the key + "
                        "mark as flagged rows (closes the delete-then-stale-"
                        "upsert resurrection window)")
    p.add_argument("--keep-versions", type=int, default=2,
                   help="maintain mode: versions retained by vacuum")
    p.add_argument("--target-file-mb", type=int, default=128,
                   help="maintain mode: compaction target file size")
    p.add_argument("--zorder", default=None,
                   help="maintain mode: comma-separated columns to Z-ORDER "
                        "cluster each table on after compaction "
                        "(multi-column data skipping)")
    p.add_argument("--prep-input", default=None,
                   help="prep mode: parquet directory of raw documents")
    p.add_argument("--prep-output", default=None,
                   help="prep mode: output directory (partitioned by shard)")
    p.add_argument("--chunk-window", type=int, default=2048,
                   help="prep mode: tokens per training chunk")
    p.add_argument("--chunk-stride", type=int, default=None,
                   help="prep mode: chunk stride (default = window)")
    p.add_argument("--num-shards", type=int, default=64,
                   help="prep mode: output shard count")
    p.add_argument("--min-tokens", type=int, default=10,
                   help="prep mode: quality gate token floor")
    p.add_argument("--min-quality", type=float, default=0.3,
                   help="prep mode: quality gate score floor")
    p.add_argument("--prep-format", choices=["parquet", "tar"],
                   default="parquet",
                   help="prep mode: parquet dataset or WebDataset-style "
                        "tar shards")
    return p


def load_config(path: str) -> Spec:
    with open(path) as fh:
        return parse_spec(fh.read())


def mysql_connection_factory(url: str) -> Callable[[], object]:
    """DBAPI factory from a mysql:// URL (picklable for executors)."""
    u = urlparse(url)
    params = dict(
        host=u.hostname or "localhost",
        port=u.port or 3306,
        user=u.username or "root",
        password=u.password or "",
        database=(u.path or "/").lstrip("/"),
    )

    def connect():  # imported lazily on the executor
        try:
            import pymysql  # type: ignore

            return pymysql.connect(**params)
        except ImportError:
            try:
                import mysql.connector  # type: ignore

                return mysql.connector.connect(**params)
            except ImportError as exc:
                raise NotImplementedError(
                    "no MySQL DBAPI driver installed (pymysql or "
                    "mysql-connector-python required on executors)"
                ) from exc

    return connect


def run_prep(spark, args) -> int:
    """Training-data prep over a parquet corpus: gate -> exact dedup ->
    chunk -> shard, written partitioned by shard (engine extension — the
    batch CLI face of plans.pipeline_queries.pipe_pretrain_prep)."""
    from pyspark.sql import functions as F

    from momyre_spark.functions.text import quality_score, token_count
    from momyre_spark.operators.chunking import chunk_documents
    from momyre_spark.operators.dedup import dedup_exact
    from momyre_spark.operators.sampling import assign_shards

    docs = spark.read.parquet(args.prep_input)
    t = F.col("text")
    gated = docs.filter(
        (token_count(t) >= args.min_tokens)
        & (quality_score(t) >= args.min_quality)
    )
    chunks = chunk_documents(
        dedup_exact(gated),
        window=args.chunk_window,
        stride=args.chunk_stride or args.chunk_window,
    )
    sharded = assign_shards(
        chunks.withColumn(
            "__ck",
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("chunk_id").cast("string"),
            ),
        ),
        args.num_shards,
        id_col="__ck",
    ).drop("__ck")
    if args.prep_format == "tar":
        from momyre_spark.sinks.export import write_tar_shards

        keyed2 = sharded.withColumn(
            "__k",
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("-"),
                F.col("chunk_id").cast("string"),
            ),
        )
        write_tar_shards(
            keyed2, args.prep_output,
            key_col="__k", payload_col="chunk_text",
        )
        print(f"prep: wrote {args.num_shards} tar shards to "
              f"{args.prep_output}", file=sys.stderr)
        return 0
    # observe the row count ON the write itself — re-reading the dataset
    # just to count would double the job's read IO for a log line
    from pyspark.sql import Observation

    obs = Observation("prep_write")
    sharded.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(args.prep_output)
    n = obs.get["n"]
    print(f"prep: wrote {n} chunks to {args.prep_output} "
          f"({args.num_shards} shards)", file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.mode == "prep":
        if not (args.prep_input and args.prep_output):
            print("prep mode requires --prep-input and --prep-output",
                  file=sys.stderr)
            return 2
        from momyre_spark.session import get_spark

        return run_prep(get_spark(app_name="momyre-spark-prep"), args)

    spec = load_config(args.config)

    from momyre_spark.engine import ReplicationEngine
    from momyre_spark.session import get_spark
    from momyre_spark.sources import mongo as mongo_src

    spark = get_spark(app_name="momyre-spark-cli")
    inp = args.inp or "mongodb://localhost:27017/db"
    out = args.out or "mysql://root@localhost:3306/db"
    db = urlparse(inp).path.lstrip("/") or "db"

    def source(table: str):
        return mongo_src.read_snapshot(spark, inp, db, table)

    engine = ReplicationEngine(
        spark,
        spec,
        source,
        mysql_connection_factory(out),
        dialect_name="mysql",
        force=args.force,
        zerop=args.zerop,
        sink_partitions=args.sink_partitions,
    )

    if args.mode == "maintain":
        if not args.lake_root:
            print("maintain mode requires --lake-root", file=sys.stderr)
            return 2
        from momyre_spark.sinks.snapshots import (
            snapshot_compact,
            snapshot_vacuum,
            snapshot_zorder,
        )

        for table in sorted(spec.tables):
            root = f"{args.lake_root}/{table}"
            try:
                v = snapshot_compact(
                    spark, root,
                    target_file_bytes=args.target_file_mb * 1024 * 1024,
                )
            except FileNotFoundError:
                print(f"{table}: no snapshot store at {root}", file=sys.stderr)
                continue
            znote = ""
            if args.zorder:
                zv = snapshot_zorder(
                    spark, root,
                    [c.strip() for c in args.zorder.split(",") if c.strip()],
                    target_file_bytes=args.target_file_mb * 1024 * 1024,
                )
                znote = f", zordered->v{zv}"
            dropped = snapshot_vacuum(spark, root, keep_last=args.keep_versions,
                                      sweep_orphans=True)
            print(
                f"{table}: compacted->" + (f"v{v}" if v else "no-op") + znote
                + f", vacuumed {len(dropped)} versions",
                file=sys.stderr,
            )
        return 0

    if args.mode in ("batch", "both"):
        if args.lake_root:
            for table in spec.tables:
                engine.snapshot_to_lake(table, f"{args.lake_root}/{table}")
            print(f"snapshotted to lake: {sorted(spec.tables)}", file=sys.stderr)
        else:
            resynced = engine.run_batch_sync()
            print(f"resynced: {resynced}", file=sys.stderr)

    if args.mode in ("stream", "both"):
        from momyre_spark.sources.mongo import change_stream_reader, decode_change_stream
        from momyre_spark.streaming.pipeline import start_cdc_stream

        streams = []
        for table in spec.tables:
            raw = change_stream_reader(spark, inp, db, table).load()
            streams.append(decode_change_stream(raw))
        ops = streams[0]
        for st in streams[1:]:
            ops = ops.unionByName(st)
        if args.lake_root:
            from momyre_spark.streaming.pipeline import start_cdc_lake_stream

            query = start_cdc_lake_stream(
                ops, spec, lake_root=args.lake_root,
                checkpoint_dir=args.checkpoint,
            )
        else:
            query = start_cdc_stream(
                ops,
                spec,
                connection_factory=mysql_connection_factory(out),
                dialect_name="mysql",
                checkpoint_dir=args.checkpoint,
                num_partitions=args.sink_partitions,
                ts_guard_col=args.ts_guard_col,
                tombstone_col=args.tombstone_col,
            )
        query.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
