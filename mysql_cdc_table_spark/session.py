"""SparkSession factory with the engine's performance posture baked in.

Scale design notes (local[32] here; the same confs drive a 1000-executor
cluster):

- AQE on: runtime re-planning replaces the static cost stubs the reference
  exposes to MySQL's optimizer (reference binlogdb.h:178-187,
  binlogdb.cc:803-806 — constants, no real stats). AQE coalesces
  post-shuffle partitions, converts sort-merge joins to broadcast when the
  runtime size allows, and splits skewed partitions.
- Arrow on: every pandas-UDF / mapInPandas path (the CDC decode, vector
  scoring) moves data JVM<->Python in columnar Arrow batches instead of
  row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle bit-for-bit.
- shuffle.partitions sized for the test scale; on a real cluster this is
  governed by AQE's advisoryPartitionSizeInBytes instead (set here too so
  coalescing targets ~64MB partitions regardless of the initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from mysql_cdc_table_spark.worker_imports import BOOT_DIR

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "spark-cdc-table", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    master = f"local[{cpus or DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # r15: scale-adaptive — one initial shuffle partition per core
        # (identical to the old constant 32 on the full box; lower-core
        # runs no longer fan tiny stages across 32 slots they don't
        # have). AQE's advisory size still governs the coalesced count.
        .config("spark.sql.shuffle.partitions", cpus or DEFAULT_CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark reads it as
        # long and catalog.load_table converts to microsecond timestamps
        # (matching DuckDB's nanos->micros truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _add_worker_boot_dir(spark.sparkContext)
    return spark


def _add_worker_boot_dir(sc) -> None:
    """Append ``worker_imports.BOOT_DIR`` to the workers' PYTHONPATH, after
    any value the user set. ``sc.environment`` is the driver's copy of
    ``spark.executorEnv.*``; every Python function and data source
    registered from now on carries it to the processes it starts,
    streaming source runners included. Its ``sitecustomize`` makes those
    processes import pyspark's zip modules as cached compiled code."""
    paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if BOOT_DIR not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join(paths + [BOOT_DIR])
