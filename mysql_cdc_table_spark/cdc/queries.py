"""CDC query registry: the reference's raison d'être, oracle-checked.

Each entry builds the deterministic synthetic changelog (see
``synthetic.py``) and applies one derived operator; the oracle rebuilds
the identical changelog in DuckDB SQL (``CHANGELOG_CTE``) and applies
the same operator in ANSI SQL. ``cdc_envelope_roundtrip`` additionally
proves the decode path: Debezium-style JSON envelopes built from the
same recipe, pushed through ``decode_envelope``, must reproduce the
changelog bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_cdc_table_spark.cdc import ops
from mysql_cdc_table_spark.cdc.source import decode_envelope, decode_kafka_envelope
from mysql_cdc_table_spark.cdc.synthetic import (
    CHANGELOG_CTE,
    ORDERS_TARGET_SCHEMA,
    synthetic_changelog,
    synthetic_envelopes,
)

KEY = ["o_orderkey"]

_CHANGELOG_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority, __op, __gtid, __tm, __file_seq, __event_seq, __image_seq"
)


def cdc_changelog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synthetic_changelog(spark, sf_dir)


CDC_CHANGELOG_SCAN_SQL = f"WITH {CHANGELOG_CTE} SELECT {_CHANGELOG_COLS} FROM changelog"


def cdc_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = synthetic_envelopes(spark, sf_dir)
    return decode_envelope(env, ORDERS_TARGET_SCHEMA, database="tpch", table="orders")


CDC_ENVELOPE_ROUNDTRIP_SQL = CDC_CHANGELOG_SCAN_SQL


def cdc_op_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.op_counts(synthetic_changelog(spark, sf_dir))


CDC_OP_COUNTS_SQL = f"""
WITH {CHANGELOG_CTE}
SELECT __op, count(*) AS n FROM changelog GROUP BY __op ORDER BY __op
"""


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.latest_state(synthetic_changelog(spark, sf_dir), KEY)


CDC_LATEST_STATE_SQL = f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
)
SELECT {_CHANGELOG_COLS} FROM ranked WHERE __rn = 1 AND __op <> 0
"""


def cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = synthetic_changelog(spark, sf_dir)
    bound = cl.agg(
        F.floor(F.max("__gtid") / F.lit(2.0)).cast("long").alias("__bound")
    )
    filtered = (
        cl.join(F.broadcast(bound))
        .filter(F.col("__gtid") <= F.col("__bound"))
        .drop("__bound")
    )
    return ops.latest_state(filtered, KEY)


CDC_SNAPSHOT_AT_SQL = f"""
WITH {CHANGELOG_CTE},
clipped AS (
  SELECT * FROM changelog
  WHERE __gtid <= (SELECT CAST(floor(max(__gtid) / 2.0) AS BIGINT) FROM changelog)
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM clipped
)
SELECT {_CHANGELOG_COLS} FROM ranked WHERE __rn = 1 AND __op <> 0
"""


def cdc_update_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.update_pairs(synthetic_changelog(spark, sf_dir), KEY)


CDC_UPDATE_PAIRS_SQL = f"""
WITH {CHANGELOG_CTE}
SELECT
  b.o_orderkey, b.__gtid, b.__event_seq,
  b.o_custkey AS before_o_custkey,
  b.o_orderstatus AS before_o_orderstatus,
  b.o_totalprice AS before_o_totalprice,
  b.o_orderdate AS before_o_orderdate,
  b.o_orderpriority AS before_o_orderpriority,
  a.__tm,
  a.o_custkey AS after_o_custkey,
  a.o_orderstatus AS after_o_orderstatus,
  a.o_totalprice AS after_o_totalprice,
  a.o_orderdate AS after_o_orderdate,
  a.o_orderpriority AS after_o_orderpriority
FROM changelog b
JOIN changelog a
  ON b.o_orderkey = a.o_orderkey
 AND b.__gtid = a.__gtid AND b.__event_seq = a.__event_seq
 AND b.__op = 2 AND a.__op = 3
"""


def cdc_changes_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.changes_per_key(synthetic_changelog(spark, sf_dir), KEY)


CDC_CHANGES_PER_KEY_SQL = f"""
WITH {CHANGELOG_CTE}
SELECT o_orderkey,
       count(*) AS n_images,
       CAST(sum(CASE WHEN __op = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
       max(CASE WHEN __op = 0 THEN 1 ELSE 0 END) AS deleted,
       min(__gtid) AS first_gtid,
       max(__gtid) AS last_gtid
FROM changelog
GROUP BY o_orderkey
"""


def cdc_snapshot_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel: state as of 1998-07-01 (mid-corpus)."""
    cl = synthetic_changelog(spark, sf_dir)
    return ops.snapshot_at_time(cl, KEY, "1998-07-01 00:00:00")


CDC_SNAPSHOT_AT_TIME_SQL = f"""
WITH {CHANGELOG_CTE},
clipped AS (
  SELECT * FROM changelog WHERE __tm <= TIMESTAMP '1998-07-01 00:00:00'
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM clipped
)
SELECT {_CHANGELOG_COLS} FROM ranked WHERE __rn = 1 AND __op <> 0
"""


def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.scd2(synthetic_changelog(spark, sf_dir), KEY)


CDC_SCD2_SQL = f"""
WITH {CHANGELOG_CTE},
versions AS (SELECT * FROM changelog WHERE __op <> 2),
iv AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority, __op, __gtid,
         __tm AS valid_from,
         lead(__tm) OVER w AS valid_to,
         lead(__op) OVER w IS NULL AS is_current
  FROM versions
  WINDOW w AS (PARTITION BY o_orderkey
               ORDER BY __gtid ASC, __event_seq ASC, __image_seq ASC)
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, __gtid, valid_from, valid_to, is_current
FROM iv WHERE __op <> 0
"""


def cdc_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff feed for the middle half of transaction history:
    (max/4, max/2] — newest in-window image per key + net_op."""
    cl = synthetic_changelog(spark, sf_dir)
    bounds = cl.agg(
        F.floor(F.max("__gtid") / F.lit(4.0)).cast("long").alias("__g1"),
        F.floor(F.max("__gtid") / F.lit(2.0)).cast("long").alias("__g2"),
    )
    clb = cl.join(F.broadcast(bounds))
    return ops.changes_between(
        clb, KEY, F.col("__g1"), F.col("__g2")
    ).drop("__g1", "__g2")


CDC_CHANGES_BETWEEN_SQL = f"""
WITH {CHANGELOG_CTE},
bounds AS (
  SELECT CAST(floor(max(__gtid) / 4.0) AS BIGINT) AS g1,
         CAST(floor(max(__gtid) / 2.0) AS BIGINT) AS g2
  FROM changelog
),
win AS (
  SELECT c.* FROM changelog c, bounds WHERE __gtid > g1 AND __gtid <= g2
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM win
)
SELECT {_CHANGELOG_COLS},
       CASE WHEN __op = 0 THEN 'delete' ELSE 'upsert' END AS net_op
FROM ranked WHERE __rn = 1
"""


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State diff between the half-history and full-history snapshots."""
    cl = synthetic_changelog(spark, sf_dir)
    bounds = cl.agg(
        F.floor(F.max("__gtid") / F.lit(2.0)).cast("long").alias("__ga"),
        F.max("__gtid").alias("__gb"),
    )
    clb = cl.join(F.broadcast(bounds))
    return ops.snapshot_diff(
        clb, KEY, F.col("__ga"), F.col("__gb")
    ).drop("__ga", "__gb")


CDC_SNAPSHOT_DIFF_SQL = f"""
WITH {CHANGELOG_CTE},
bounds AS (
  SELECT CAST(floor(max(__gtid) / 2.0) AS BIGINT) AS ga, max(__gtid) AS gb
  FROM changelog
),
snap_a AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (
        PARTITION BY o_orderkey
        ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
    FROM changelog c, bounds WHERE __gtid <= ga
  ) WHERE __rn = 1 AND __op <> 0
),
snap_b AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (
        PARTITION BY o_orderkey
        ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
    FROM changelog c, bounds WHERE __gtid <= gb
  ) WHERE __rn = 1 AND __op <> 0
)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.__gtid IS NULL AND b.__gtid IS NOT NULL THEN 'added'
            WHEN a.__gtid IS NOT NULL AND b.__gtid IS NULL THEN 'removed'
            WHEN a.__gtid <> b.__gtid THEN 'changed' END AS diff_op,
       b.o_custkey, b.o_orderstatus, b.o_totalprice, b.o_orderdate,
       b.o_orderpriority,
       b.__gtid AS __gtid_b, a.__gtid AS __gtid_a
FROM snap_a a FULL JOIN snap_b b USING (o_orderkey)
WHERE (CASE WHEN a.__gtid IS NULL AND b.__gtid IS NOT NULL THEN 'added'
            WHEN a.__gtid IS NOT NULL AND b.__gtid IS NULL THEN 'removed'
            WHEN a.__gtid <> b.__gtid THEN 'changed' END) IS NOT NULL
"""


def cdc_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC analytics composition: per after-status, how much update pairs
    moved prices (sum/avg of after-before deltas)."""
    pairs = ops.update_pairs(synthetic_changelog(spark, sf_dir), KEY)
    delta = F.col("after_o_totalprice") - F.col("before_o_totalprice")
    return pairs.groupBy(
        F.col("after_o_orderstatus").alias("status")
    ).agg(
        F.count("*").alias("n_updates"),
        F.round(F.sum(delta), 2).alias("total_drift"),
        F.round(F.avg(delta), 6).alias("avg_drift"),
    )


CDC_PRICE_DRIFT_SQL = f"""
WITH {CHANGELOG_CTE},
pairs AS (
  SELECT a.o_orderstatus AS status,
         a.o_totalprice - b.o_totalprice AS delta
  FROM changelog b
  JOIN changelog a
    ON b.o_orderkey = a.o_orderkey
   AND b.__gtid = a.__gtid AND b.__event_seq = a.__event_seq
   AND b.__op = 2 AND a.__op = 3
)
SELECT status, count(*) AS n_updates,
       round(sum(delta), 2) AS total_drift,
       round(avg(delta), 6) AS avg_drift
FROM pairs GROUP BY status
"""


def cdc_kafka_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka ingest path, broker-less: wrap the synthetic envelopes
    in Kafka's record shape (binary value + topic/partition/offset) and
    decode through decode_kafka_envelope — CAST(value AS STRING) ->
    from_json -> unnest. Oracle: the changelog CTE (the decode must be
    the identity over the Kafka framing)."""
    env = synthetic_envelopes(spark, sf_dir)
    records = env.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit("tpch.orders").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    return decode_kafka_envelope(
        records, ORDERS_TARGET_SCHEMA, database="tpch", table="orders"
    )


CDC_KAFKA_ENVELOPE_DECODE_SQL = CDC_CHANGELOG_SCAN_SQL


def cdc_packed_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the binlog v4 codec over the MySQL-only
    column kinds (DECIMAL + ENUM + BIT + JSON + GEOMETRY + CHAR — the
    reference's Field::unpack type space, binlog_table_reader.cc:151-156):
    build a typed changelog from ``orders`` (every key inserted once,
    every 10th key also updated from ``price`` to ``price+1``), frame it
    as binlog files with ``build_binlog_file`` and decode them through
    the production columnar kernel (``_decode_files``) — both stages run
    in the plan, no driver hop — then aggregate. The oracle computes the
    same aggregate straight from ``orders``: any codec bit-rot (enum
    index off-by-one, decimal scale, bitmask order, binary length
    framing, CHAR padding) breaks the value hash. GEOMETRY is an opaque
    SRID+WKB byte passthrough (SURVEY §1.3); here the bytes are
    deterministic per key so their length sum and distinct count land
    in the hash. The key name predates the v4 codec and is kept so the
    registry stays stable."""
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql import types as T

    from mysql_cdc_table_spark.operators._util import t
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
            T.StructField("bits", T.LongType(), metadata={"mysql_type": "bit"}),
            T.StructField("props", T.StringType(), metadata={"mysql_type": "json"}),
            T.StructField("geo", T.BinaryType(), metadata={"mysql_type": "geometry"}),
            T.StructField(
                "flag",
                T.StringType(),
                metadata={"mysql_type": "char", "char_len": 2},
            ),
        ]
    )
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 2).cast("decimal(12,2)").alias("price"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_custkey") % 8).alias("bits"),
        F.to_json(F.struct(F.col("o_orderpriority").alias("p"))).alias("props"),
        F.encode(
            F.concat(F.lit("PT:"), (F.col("o_orderkey") % 100).cast("string")),
            "UTF-8",
        ).alias("geo"),
        F.expr(
            "char(65 + o_orderkey % 26) || "
            "char(65 + (o_orderkey div 26) % 26)"
        ).alias("flag"),
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for row in pdf.to_dict("records"):
            gno = int(row["id"]) * 10
            txns.append({"gno": gno, "op": "w", "rows": [row]})
            if row["id"] % 10 == 0:
                after = dict(row, price=row["price"] + Decimal(1))
                txns.append(
                    {"gno": gno + 1, "op": "u", "rows": [(row, after)]}
                )
        return build_binlog_file(
            "tpch", "orders", target, txns, checksum=True
        )

    files = _encode_files(base, build)
    back = _decode_files(files, target, "tpch", "orders")
    return back.groupBy(
        F.col("status"), F.col("__op").alias("op")
    ).agg(
        F.count("*").alias("n"),
        F.sum("price").cast("double").alias("sum_price"),
        F.sum("bits").alias("sum_bits"),
        F.min("props").alias("min_props"),
        F.sum(F.length("geo")).cast("long").alias("geo_len_sum"),
        F.countDistinct("geo").alias("n_geo"),
        F.sum(
            (F.ascii("flag") * 256 + F.ascii(F.substring("flag", 2, 1)))
            .cast("long")
        ).alias("flag_ord_sum"),
    )


CDC_PACKED_TYPED_ROUNDTRIP_SQL = """
WITH base AS (
  SELECT o_orderkey AS id,
         CAST(round(o_totalprice, 2) AS DECIMAL(12,2)) AS price,
         o_orderstatus AS status,
         o_custkey % 8 AS bits,
         json_object('p', o_orderpriority) AS props,
         encode('PT:' || CAST(o_orderkey % 100 AS VARCHAR)) AS geo,
         (65 + o_orderkey % 26) * 256 + 65 + (o_orderkey // 26) % 26
           AS flag_ord
  FROM orders
),
cl AS (
  SELECT status, 1 AS op, price, bits, props, geo, flag_ord FROM base
  UNION ALL
  SELECT status, 2, price, bits, props, geo, flag_ord
  FROM base WHERE id % 10 = 0
  UNION ALL
  SELECT status, 3, price + CAST(1 AS DECIMAL(12,2)), bits, props, geo,
         flag_ord
  FROM base WHERE id % 10 = 0
)
SELECT status, op, count(*) AS n,
       CAST(sum(price) AS DOUBLE) AS sum_price,
       CAST(sum(bits) AS BIGINT) AS sum_bits,
       CAST(min(props) AS VARCHAR) AS min_props,
       CAST(sum(octet_length(geo)) AS BIGINT) AS geo_len_sum,
       CAST(count(DISTINCT geo) AS BIGINT) AS n_geo,
       CAST(sum(flag_ord) AS BIGINT) AS flag_ord_sum
FROM cl GROUP BY status, op
"""


QUERIES = {
    "cdc_changelog_scan": cdc_changelog_scan,
    "cdc_changes_between": cdc_changes_between,
    "cdc_snapshot_diff": cdc_snapshot_diff,
    "cdc_price_drift": cdc_price_drift,
    "cdc_snapshot_at_time": cdc_snapshot_at_time,
    "cdc_scd2": cdc_scd2,
    "cdc_envelope_roundtrip": cdc_envelope_roundtrip,
    "cdc_op_counts": cdc_op_counts,
    "cdc_latest_state": cdc_latest_state,
    "cdc_snapshot_at": cdc_snapshot_at,
    "cdc_update_pairs": cdc_update_pairs,
    "cdc_changes_per_key": cdc_changes_per_key,
    "cdc_packed_typed_roundtrip": cdc_packed_typed_roundtrip,
    "cdc_kafka_envelope_decode": cdc_kafka_envelope_decode,
}

ORACLES = {
    "cdc_changelog_scan": CDC_CHANGELOG_SCAN_SQL,
    "cdc_changes_between": CDC_CHANGES_BETWEEN_SQL,
    "cdc_snapshot_diff": CDC_SNAPSHOT_DIFF_SQL,
    "cdc_price_drift": CDC_PRICE_DRIFT_SQL,
    "cdc_snapshot_at_time": CDC_SNAPSHOT_AT_TIME_SQL,
    "cdc_scd2": CDC_SCD2_SQL,
    "cdc_envelope_roundtrip": CDC_ENVELOPE_ROUNDTRIP_SQL,
    "cdc_op_counts": CDC_OP_COUNTS_SQL,
    "cdc_latest_state": CDC_LATEST_STATE_SQL,
    "cdc_snapshot_at": CDC_SNAPSHOT_AT_SQL,
    "cdc_update_pairs": CDC_UPDATE_PAIRS_SQL,
    "cdc_changes_per_key": CDC_CHANGES_PER_KEY_SQL,
    "cdc_packed_typed_roundtrip": CDC_PACKED_TYPED_ROUNDTRIP_SQL,
    "cdc_kafka_envelope_decode": CDC_KAFKA_ENVELOPE_DECODE_SQL,
}
