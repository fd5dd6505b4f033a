"""Structured Streaming consumption of the CDC changelog.

The reference has no streaming story: every scan replays all binlog
files from index 0 (reference binlogdb.cc:487 — a new reader per scan,
no offsets, no checkpoint). Structured Streaming supplies exactly the
missing pieces: the file source tracks processed files (offsets), the
checkpoint survives restarts, and ``foreachBatch`` MERGE gives the
materialized current-state view the reference's users must hand-write
per query.

Scale notes:
- The stream arrives partitioned by source file (or Kafka partition);
  decode is narrow (no shuffle).
- ``materialize_latest_state`` shuffles each micro-batch by key once
  (the window in cdc.ops.latest_state), then merges against the store;
  with a sink supporting real MERGE (Delta/Iceberg) the read-modify-
  write below becomes an atomic MERGE INTO on the same plan.
- Streaming dedup keys carry a watermark so state is bounded —
  dropDuplicatesWithinWatermark evicts keys older than the horizon.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_cdc_table_spark.cdc.ops import latest_state
from mysql_cdc_table_spark.cdc.source import cdc_read
from mysql_cdc_table_spark.sources import fs as _hfs


def cdc_read_stream(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    database: str | None = None,
    table: str | None = None,
) -> DataFrame:
    """Streaming changelog over a directory of envelope JSONL files
    (lexicographic file order, like the reference's index-file order —
    binlog_table_reader.cc:12-19 — but incremental instead of replayed).
    Trigger pacing belongs to the caller (.trigger(availableNow=True) or
    processingTime)."""
    return cdc_read(spark, path, target, database=database, table=table, streaming=True)


def materialize_latest_state(
    changelog_stream: DataFrame,
    key_cols: list[str],
    store_path: str,
    checkpoint_path: str,
    query_name: str = "cdc_materialize",
):
    """foreachBatch upsert-materialization of the current state into a
    parquet store: per micro-batch, union(store, batch) -> latest_state.

    With Delta/Iceberg this body becomes `MERGE INTO store USING batch`;
    parquet has no row-level merge, so the store is rewritten per batch
    (fine for a state table that is small relative to the log — the
    usual CDC shape; at 100 TB state, use a mergeable table format)."""
    spark = changelog_stream.sparkSession
    schema = changelog_stream.schema

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _hfs.exists(spark, store_path):
            current = spark.read.schema(schema).parquet(store_path)
            merged = latest_state(current.unionByName(batch_df), key_cols)
        else:
            merged = latest_state(batch_df, key_cols)
        # write-then-swap: stage the new state, then rename (atomic on
        # HDFS; on S3 prefer the bucketed store below or a table format)
        tmp = store_path + f".staging-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = store_path + f".old-{batch_id}"
        if _hfs.exists(spark, store_path):
            _hfs.rename(spark, store_path, old)
        _hfs.rename(spark, tmp, store_path)
        _hfs.delete(spark, old)

    return (
        changelog_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .queryName(query_name)
    )


def materialize_latest_state_partitioned(
    changelog_stream: DataFrame,
    key_cols: list[str],
    store_path: str,
    checkpoint_path: str,
    n_buckets: int = 64,
    query_name: str = "cdc_materialize_buckets",
):
    """Keyed-upsert materialization with a hash-bucketed parquet store:
    each micro-batch reads and rewrites ONLY the buckets its keys touch
    (partition pruning on read, dynamic partition overwrite on write) —
    per-batch cost scales with the batch's key spread, never with the
    store size, which is what MERGE INTO costs on a real table format.
    This is the durable current-state view the reference's users build
    as MySQL tables by hand, minus its replay-from-file-0 rescan
    (reference binlogdb.cc:487).

    Deletes are honored two ways: a tombstone newer than the stored row
    wins inside ``latest_state``, and a bucket whose keys ALL died is
    physically dropped (dynamic overwrite alone would leave it stale).

    Store file ops (bucket listing, dead-bucket drop) go through the
    Hadoop FileSystem API (``sources.fs``), so the store works on
    HDFS/S3/GCS exactly as on local disk.
    """
    spark = changelog_stream.sparkSession
    bucket = F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )

    def _store_buckets() -> set[int]:
        return _hfs.bucket_ids(spark, store_path)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        touched = sorted(
            r["b"]
            for r in batch_df.select(bucket.alias("b")).distinct().collect()
        )  # bounded by n_buckets — tiny driver-side list, not data
        have = _store_buckets()
        if have & set(touched):
            current = (
                spark.read.parquet(store_path)
                .filter(F.col("__bucket").isin(touched))
                .drop("__bucket")
            )
            merged_in = current.unionByName(batch_df)
        else:
            merged_in = batch_df
        # persist + materialize BEFORE the write: merged reads the very
        # store files the write replaces, so its plan must never be
        # re-evaluated afterwards (self-overwrite hazard)
        merged = (
            latest_state(merged_in, key_cols).withColumn("__bucket", bucket).persist()
        )
        survivors = {
            r["__bucket"]
            for r in merged.select("__bucket").distinct().collect()
        }
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(store_path)
        )
        merged.unpersist()
        for dead in set(touched) - survivors:
            _hfs.delete(spark, f"{store_path}/__bucket={dead}")
        batch_df.unpersist()

    return (
        changelog_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .queryName(query_name)
    )


def materialize_scd2_partitioned(
    changelog_stream: DataFrame,
    key_cols: list[str],
    store_path: str,
    checkpoint_path: str,
    n_buckets: int = 64,
    query_name: str = "cdc_materialize_scd2",
):
    """Incrementally maintain a durable type-2 SCD dimension from the
    changelog stream — the history twin of
    ``materialize_latest_state_partitioned`` (which keeps only current
    rows). The store is a hash-bucketed parquet table of every surviving
    image (plus delete tombstones) with its validity interval baked in;
    each micro-batch reads and rewrites ONLY the buckets its keys touch,
    so per-batch cost scales with the touched keys' history, never with
    the store size.

    Mechanics per batch: union the touched buckets' stored image rows
    (ordering columns intact) with the batch's version + delete rows,
    drop replayed duplicates on (key, __gtid, __event_seq, __image_seq)
    — restart idempotence — then recompute the per-key interval chain
    (one window; ordering is total per key, CDC delivery is in-order per
    key) and overwrite the touched buckets. Tombstones stay in the store
    (hidden from the public view) so a closed-by-delete chain survives
    future merges; buckets therefore never empty and need no cleanup.

    Read the public view with ``read_scd2_store`` — equivalent to batch
    ``cdc.ops.scd2`` over everything ever streamed. The reference's
    users hand-build this history table with triggers/queries over the
    replayed scan (reference binlogdb.cc:487); here it is durable and
    incremental.
    """
    from pyspark.sql import Window

    from mysql_cdc_table_spark.cdc.schema import CDC_DELETE, CDC_UPDATE_BEFORE

    spark = changelog_stream.sparkSession
    bucket = F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )
    _SCD2_COLS = ("valid_from", "valid_to", "is_current")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        images = batch_df.filter(F.col("__op") != CDC_UPDATE_BEFORE).persist()
        touched = sorted(
            r["b"] for r in images.select(bucket.alias("b")).distinct().collect()
        )  # bounded by n_buckets — tiny driver-side list, not data
        if not touched:
            images.unpersist()
            return
        if _hfs.bucket_ids(spark, store_path):
            stored = (
                spark.read.parquet(store_path)
                .filter(F.col("__bucket").isin(touched))
                .drop("__bucket", *_SCD2_COLS)
            )
            merged_in = stored.unionByName(images)
        else:
            merged_in = images
        order_cols = ["__gtid", "__event_seq", "__image_seq"]
        merged_in = merged_in.dropDuplicates([*key_cols, *order_cols])
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).asc() for c in order_cols]
        )
        # persist + materialize BEFORE the write: the plan reads the very
        # store files the write replaces (self-overwrite hazard)
        merged = (
            merged_in.withColumn("valid_from", F.col("__tm"))
            .withColumn("valid_to", F.lead("__tm").over(w))
            .withColumn(
                "is_current",
                F.lead("__op").over(w).isNull() & (F.col("__op") != CDC_DELETE),
            )
            .withColumn("__bucket", bucket)
            .persist()
        )
        merged.count()
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(store_path)
        )
        merged.unpersist()
        images.unpersist()

    return (
        changelog_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .queryName(query_name)
    )


def read_scd2_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Public SCD2 view over the store: version rows with their validity
    intervals; tombstones (merge bookkeeping) hidden. Matches batch
    ``cdc.ops.scd2`` output modulo the extra ordering columns kept for
    incremental merging."""
    from mysql_cdc_table_spark.cdc.schema import CDC_DELETE

    return (
        spark.read.parquet(store_path)
        .filter(F.col("__op") != CDC_DELETE)
        .drop("__bucket")
    )


def windowed_op_rates(
    changelog_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling op-count aggregation over the CDC stream
    (late events beyond the watermark are dropped, bounding state)."""
    return (
        changelog_stream.withWatermark("__tm", watermark)
        .groupBy(F.window("__tm", "1 minute").alias("w"), "__op")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "__op", "n")
    )


def streaming_dedup(
    stream: DataFrame, keys: list[str], time_col: str, watermark: str
) -> DataFrame:
    """Streaming exact dedup with bounded state: keys older than the
    watermark horizon are evicted."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


# sized for the registry's longest full stream at sf1 (about three
# minutes); a hung query still fails loudly instead of blocking forever
_DRAIN_TIMEOUT_S = 600.0


def await_drained(q, timeout_s: float = _DRAIN_TIMEOUT_S):
    """Block until the started query ``q`` drains. A query still
    running after ``timeout_s`` is stopped and ``TimeoutError`` raised:
    a slow stream must not look drained."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming query {q.id} did not drain within {timeout_s}s")
    return q


def run_to_completion(writer, timeout_s: float = _DRAIN_TIMEOUT_S):
    """Start an availableNow query and block until it drains
    (``await_drained``)."""
    return await_drained(writer.trigger(availableNow=True).start(), timeout_s)
