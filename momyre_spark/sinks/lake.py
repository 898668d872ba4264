"""Lake layout writers: partitioned/bucketed columnar tables.

The reference's only sink is MySQL; at 100 TB the replicated/derived tables
live in a lake (parquet/Delta/Iceberg) where physical layout IS the query
optimization:

- ``write_partitioned``: hive-style directory partitioning — queries filtering
  on the partition column scan only matching directories (PartitionFilters,
  verified in tests). Choose low-cardinality columns (date, region, status);
  a high-cardinality partition column creates a million tiny files.
- ``write_bucketed``: pre-shuffled bucket layout via ``bucketBy`` — equi-joins
  and aggregations on the bucket key skip their shuffle entirely when both
  sides share the bucketing (the lake analog of co-located joins).

Replicated tables (snapshot, CDC merge, compaction, Z-order) live in the
versioned snapshot store, ``sinks/snapshots.py`` — the one lake sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.format("parquet").saveAsTable(table)

