"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right default on a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- adaptive + static shuffle partitions sized for the local harness via
  ``SPARK_GRAFT_CPUS`` (a real cluster overrides ``spark.sql.shuffle.partitions``
  or relies on AQE's coalescing from a high initial value);
- Arrow enabled for every pandas UDF / toPandas boundary;
- session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "momyre-spark"


def driver_memory(meminfo: str | None = None) -> str:
    """Default ``spark.driver.memory``: half the host's ``MemTotal`` (from
    ``meminfo``, else ``/proc/meminfo``), at least 1g and at most 48g; 48g
    when the total cannot be read."""
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
    m = re.search(r"^MemTotal:\s+(\d+)\s*kB", meminfo, re.MULTILINE)
    if not m:
        return "48g"
    return f"{max(1024, min(int(m.group(1)) // 2048, 48 * 1024))}m"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# SQL confs the engine depends on that are runtime-settable — applied both at
# session build and defensively onto externally-created sessions (the
# verification driver builds its own SparkSession before calling into the
# engine; without nanosAsLong every events-table read fails on the NANOS
# parquet timestamps, and without UTC the oracle comparison shifts).
RUNTIME_SQL_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ship_package(spark: SparkSession) -> None:
    """Make ``momyre_spark`` importable on executor Python workers.

    Pandas-UDF / mapInPandas closures reference this package; workers only
    inherit the driver's cwd by accident (and not at all on a real cluster
    or when the driver runs elsewhere). Zip the package once per
    SparkContext and addPyFile it — the canonical dependency-shipping path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_momyre_pkg_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    base = os.path.join(tempfile.gettempdir(), "momyre_spark_pkg")
    archive = shutil.make_archive(base, "zip", root_dir=root, base_dir="momyre_spark")
    sc.addPyFile(archive)
    sc._momyre_pkg_shipped = True


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin the engine's runtime-settable SQL confs on any session and ship
    the package to executors."""
    for k, v in RUNTIME_SQL_CONFS.items():
        spark.conf.set(k, v)
    ship_package(spark)
    return spark


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- query optimization ---------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # --- python <-> jvm boundary ----------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle parity ------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # testdata's events.ts is parquet TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long and convert at the source boundary
        # (sources/parquet.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scan sizing: ~128MB splits hold at any SF ----------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # local[N] runs driver AND all N executor threads in ONE JVM: size the
        # heap for the executor side, not a remote driver's — but to the
        # host (driver_memory), leaving the rest to the Python workers and
        # the OS. On a real cluster this knob is irrelevant — executors get
        # their own spark.executor.memory.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
