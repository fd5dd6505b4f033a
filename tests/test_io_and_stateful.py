"""Sinks/sources round-trips (partitioned parquet with pruning, CSV,
JSONL, ordered file index) and the applyInPandasWithState stateful
operators driven through real streams."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_cdc_table_spark.catalog import load_table
from mysql_cdc_table_spark.sources.io import (
    read_csv,
    read_jsonl,
    read_ordered_files,
    write_partitioned_parquet,
)
from mysql_cdc_table_spark.streaming.stateful import (
    cdc_live_key_counter,
    running_user_totals,
)


def test_partitioned_parquet_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    write_partitioned_parquet(orders, path, ["o_orderstatus"])

    back = spark.read.parquet(path)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == want


def test_register_views_loads_through_load_table(spark, tmp_path):
    """The view catalog and ``load_table`` are one loading path: an
    events.parquet whose ``ts`` is TIMESTAMP(NANOS) (read as a long
    under nanosAsLong) must come back from the registered view as the
    same microsecond timestamps ``load_table`` yields, not raw nanos."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_cdc_table_spark.catalog import register_views

    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_001_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    try:
        register_views(spark, str(tmp_path))
        view = spark.table("events")
        direct = load_table(spark, str(tmp_path), "events")
        assert view.schema == direct.schema
        assert isinstance(view.schema["ts"].dataType, T.TimestampType)
        got = sorted(tuple(r) for r in view.collect())
        assert got == sorted(tuple(r) for r in direct.collect())
        assert got[0][1] == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    finally:
        spark.catalog.dropTempView("events")


def test_csv_jsonl_roundtrip(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b,с", -2.0), (3, None, 0.0)], schema)

    csv_path = str(tmp_path / "t.csv")
    df.write.option("header", True).csv(csv_path)
    assert sorted(map(tuple, read_csv(spark, csv_path, schema).collect())) == sorted(
        map(tuple, df.collect())
    )

    jl_path = str(tmp_path / "t.jsonl")
    df.write.json(jl_path)
    assert sorted(map(tuple, read_jsonl(spark, jl_path, schema).collect())) == sorted(
        map(tuple, df.collect())
    )


def test_ordered_file_index(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("seq", T.LongType()), T.StructField("v", T.StringType())]
    )
    paths = []
    for i in range(3):
        p = tmp_path / f"part-{i}.jsonl"
        p.write_text(json.dumps({"seq": i, "v": f"file{i}"}))
        paths.append(str(p))
    # index only files 0 and 2 — file 1 must not be read
    out = read_ordered_files(spark, [paths[0], paths[2]], schema)
    assert sorted(r["seq"] for r in out.collect()) == [0, 2]


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """State must persist across micro-batches: two drip files processed
    as separate batches (maxFilesPerTrigger=1); the update-mode sink's
    last row per key carries the cross-batch cumulative totals."""
    src = tmp_path / "drip"
    src.mkdir()
    (src / "f0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "value": 10.0},
                {"user_id": 1, "value": 5.0},
                {"user_id": 2, "value": 1.0},
            ]
        )
    )
    (src / "f1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"user_id": 1, "value": 2.5}, {"user_id": 3, "value": 7.0}]
        )
    )
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    totals = running_user_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT key, max(n) AS n, max(total) AS total FROM user_totals GROUP BY key"
    ).collect()
    got = {r["key"]: (r["n"], r["total"]) for r in rows}
    assert got == {1: (3, 17.5), 2: (1, 1.0), 3: (1, 7.0)}


def test_transform_with_state_totals_across_batches(spark, tmp_path):
    """The transformWithStateInPandas variant must carry ValueState
    across micro-batches exactly like the applyInPandasWithState one
    (same drip fixture, same expected totals). Needs the RocksDB state
    store provider AND google.protobuf (the state-server protocol) —
    skipped where protobuf is absent, raising-a-pointed-error is the
    operator's contract there (asserted below)."""
    from mysql_cdc_table_spark.streaming.stateful import running_user_totals_tws

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(ImportError, match="protobuf"):
            running_user_totals_tws(
                spark.readStream.schema("user_id long, value double").json(
                    str(tmp_path)
                )
            )
        pytest.skip("google.protobuf unavailable in this environment")

    src = tmp_path / "drip"
    src.mkdir()
    (src / "f0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "value": 10.0},
                {"user_id": 1, "value": 5.0},
                {"user_id": 2, "value": 1.0},
            ]
        )
    )
    (src / "f1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"user_id": 1, "value": 2.5}, {"user_id": 3, "value": 7.0}]
        )
    )
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        totals = running_user_totals_tws(stream)
        q = (
            totals.writeStream.format("memory")
            .queryName("user_totals_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT key, max(n) AS n, max(total) AS total FROM user_totals_tws GROUP BY key"
        ).collect()
        got = {r["key"]: (r["n"], r["total"]) for r in rows}
        assert got == {1: (3, 17.5), 2: (1, 1.0), 3: (1, 7.0)}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_cdc_live_key_counter(spark, tmp_path):
    """CDC stateful op: insert -> update -> delete for key 1 across two
    batches; key flips live -> dead, image count accumulates."""
    src = tmp_path / "cdc_drip"
    src.mkdir()
    (src / "f0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"id": 1, "__op": 1, "__gtid": 10, "__event_seq": 100, "__image_seq": 0},
                {"id": 2, "__op": 1, "__gtid": 11, "__event_seq": 110, "__image_seq": 0},
            ]
        )
    )
    (src / "f1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                # frame order is ADVERSARIAL: the newest row (gtid 13
                # delete) comes FIRST — liveness must follow the max
                # (gtid, event_seq, image_seq), not frame/chunk order
                {"id": 1, "__op": 0, "__gtid": 13, "__event_seq": 130, "__image_seq": 0},
                {"id": 1, "__op": 2, "__gtid": 12, "__event_seq": 120, "__image_seq": 0},
                {"id": 1, "__op": 3, "__gtid": 12, "__event_seq": 120, "__image_seq": 1},
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("__op", T.IntegerType()),
            T.StructField("__gtid", T.LongType()),
            T.StructField("__event_seq", T.LongType()),
            T.StructField("__image_seq", T.IntegerType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = (
        cdc_live_key_counter(stream)
        .writeStream.format("memory")
        .queryName("live_keys")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """SELECT key, max(n_images) AS n, min_by(live, -n_images) AS live
           FROM live_keys GROUP BY key"""
    ).collect()
    got = {r["key"]: (r["n"], r["live"]) for r in rows}
    assert got == {1: (4, False), 2: (1, True)}
