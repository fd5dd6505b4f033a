"""Round-15 operators.

- ``cdc_binlog_gbk_roundtrip``: gbk charset decode through BOTH
  kernels. gbk is the common pre-8.0 production charset on Chinese
  MySQL deployments (mbmaxlen 2; lead bytes 0x81-0xFE, trail bytes
  0x40-0xFE minus 0x7F — the trail range OVERLAPS ASCII, which is
  what makes its vectorized transcode genuinely harder than
  latin1's). The reference inherits charset handling from the
  server's Field::unpack (binlog_table_reader.cc:151-156) and never
  transcodes; this engine converts every string column to Spark's
  utf-8 StringType, so gbk needs a real codec path in the scalar
  walk AND the columnar Arrow kernel (the same DBCS machinery then
  generalized to sjis/cp932, pytest-covered).
- ``cdc_binlog_table_rename_decode``: the gh-ost/pt-osc RENAME TABLE
  cut-over through real binlog bytes (the schema history follows
  table-level renames; the swap inherits column identities by name).
- ``cdc_binlog_ddl_vec_decode`` / ``cdc_binlog_ddl_split_decode``:
  the three-generation schema-history fixture through the COLUMNAR
  kernel, and as a rotated series read in PARALLEL
  transaction-aligned ranges — the scalar key's oracle shared
  verbatim by every sibling.
- ``stats_histogram_maintained``: equi-height histogram counts
  maintained under CDC delta batches without rescanning the table.
- ``zorder_rowgroup_probe``: the within-bucket half of the Z-order
  probe — a pushed zkey range lets parquet row-group footers prune
  inside each candidate bucket.
- ``cdc_binlog_ddl_multi_table_decode``: two tables' DDL+DML
  interleaved in one log, two seeded history folds over the same
  bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_cdc_table_spark.operators._util import t
from mysql_cdc_table_spark.streaming.cdc_stream import run_to_completion

QUERIES: dict = {}
ORACLES: dict = {}


def cdc_binlog_gbk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gbk CHAR/VARCHAR/TEXT through the real binlog v4 framing, decoded
    by the scalar walk AND the columnar Arrow kernel from the same
    blobs. The fixture's codepoints are arithmetic in the order key —
    CJK ideographs U+4E00+f(id) (every one a 2-byte gbk char whose raw
    wire bytes are invalid utf-8) mixed with ASCII separators and the
    extension char U+4E02 ('丂', gbk 0x81 0x40) whose TRAIL byte is
    ASCII '@' — the case a byte-class-only char scan gets wrong. The
    aggregate pins full-codepoint sums per (kernel, status); the two
    kernels' rows must agree with each other and with the oracle's
    pure arithmetic, so one mis-scanned trail byte or a cross-row
    parity leak in the vectorized transcode breaks the value hash."""
    import pandas as pd

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
        decode_binlog_bytes,
    )

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
            T.StructField(
                "name",
                T.StringType(),
                metadata={"varchar_len": 20, "charset": "gbk"},
            ),
            T.StructField(
                "tag",
                T.StringType(),
                metadata={
                    "mysql_type": "char", "char_len": 2, "char_bytes": 4,
                    "charset": "gbk",
                },
            ),
            T.StructField(
                "memo",
                T.StringType(),
                metadata={"mysql_type": "text", "charset": "gbk"},
            ),
        ]
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def mk_row(rid: int, status: str) -> dict:
        # name: CJK - ASCII-trail char; tag: 2 CJK; memo: ascii run +
        # one CJK tail — all codepoint arithmetic the oracle recomputes
        return {
            "id": rid,
            "status": status,
            "name": chr(0x4E00 + rid % 20000) + "-"
            + chr(0x4E02 + rid % 93),
            "tag": chr(0x4E00 + rid % 26) + chr(0x4E00 + (rid // 26) % 26),
            "memo": "x" * (rid % 7) + chr(0x4E00 + (rid * 7) % 20000),
        }

    def build(pdf: pd.DataFrame) -> bytes:
        txns = [
            {
                "gno": int(r.id),
                "op": "w",
                "rows": [mk_row(int(r.id), r.status)],
            }
            for r in pdf.itertuples(index=False)
        ]
        return build_binlog_file(
            "tpch", "orders_gbk", target, txns, checksum=True
        )

    files = _encode_files(base, build)

    cols = ["id", "status", "name", "tag", "memo", "__gtid"]
    out_schema = T.StructType(
        [
            T.StructField("kernel", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("memo", T.StringType()),
            T.StructField("__gtid", T.LongType()),
        ]
    )

    def scalar(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                rows = decode_binlog_bytes(
                    bytes(blob), target, "tpch", "orders_gbk"
                )
                scal = pd.DataFrame(
                    {n: [r.get(n) for r in rows] for n in cols}
                )
                scal.insert(0, "kernel", "scalar")
                yield scal

    vec = _decode_files(files, target, "tpch", "orders_gbk").select(
        F.lit("vec").alias("kernel"), *cols
    )
    decoded = files.mapInPandas(scalar, schema=out_schema).unionByName(vec)
    cp = F.ascii  # full codepoint of the first char (JVM codePointAt)
    return decoded.groupBy("kernel", "status").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            (cp("name") + cp(F.substring("name", 3, 1))).cast("long")
        ).alias("name_cp_sum"),
        F.sum(
            (cp("tag") * F.lit(65536) + cp(F.substring("tag", 2, 1)))
            .cast("long")
        ).alias("tag_cp_sum"),
        F.sum(F.length("memo").cast("long")).alias("memo_len_sum"),
        F.sum(
            cp(F.substring(F.col("memo"), F.length("memo"), F.lit(1)))
            .cast("long")
        ).alias("memo_cp_sum"),
        F.sum("__gtid").alias("gtid_sum"),
    )


CDC_BINLOG_GBK_ROUNDTRIP_SQL = """
SELECT k.kernel,
       o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(19968 + o_orderkey % 20000
              + 19970 + o_orderkey % 93) AS BIGINT) AS name_cp_sum,
       CAST(sum((19968 + o_orderkey % 26) * 65536
              + 19968 + (o_orderkey // 26) % 26) AS BIGINT) AS tag_cp_sum,
       CAST(sum(o_orderkey % 7 + 1) AS BIGINT) AS memo_len_sum,
       CAST(sum(19968 + (o_orderkey * 7) % 20000) AS BIGINT)
         AS memo_cp_sum,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders,
     (SELECT 'scalar' AS kernel UNION ALL SELECT 'vec') k
GROUP BY 1, 2
"""


QUERIES["cdc_binlog_gbk_roundtrip"] = cdc_binlog_gbk_roundtrip
ORACLES["cdc_binlog_gbk_roundtrip"] = CDC_BINLOG_GBK_ROUNDTRIP_SQL


# --- table-level RENAME: the online-migration cut-over ------------------------

_RT_CREATE = (
    "CREATE TABLE `tpch`.`orders` ("
    " `id` BIGINT NOT NULL,"
    " `price` DECIMAL(12,2),"
    " `flag` CHAR(2),"
    " PRIMARY KEY (`id`)"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
)
_RT_GHOST = (
    "CREATE TABLE `tpch`.`_orders_gho` ("
    " `id` BIGINT NOT NULL,"
    " `price` DECIMAL(14,4),"
    " `note` VARCHAR(40),"
    " `flag` CHAR(2),"
    " PRIMARY KEY (`id`)"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
)
_RT_CUTOVER = (
    "RENAME TABLE `tpch`.`orders` TO `tpch`.`_orders_del`,"
    " `tpch`.`_orders_gho` TO `tpch`.`orders`"
)


def cdc_binlog_table_rename_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The gh-ost/pt-osc online-migration cut-over through real binlog
    bytes — the one routine DDL shape the round-14 schema history
    still refused (and the reference refuses outright:
    ``rename_table`` is HA_ERR_WRONG_COMMAND, binlogdb.cc:784-788).
    One log carries the full migration: CREATE + inserts to ``orders``
    (generation 0, DECIMAL(12,2)); the ghost table's CREATE and its
    BACKFILL writes (which a correct reader must NOT capture — the
    fixture gives backfill rows poisoned values so a leak breaks the
    hash); the atomic ``RENAME TABLE orders TO _orders_del,
    _orders_gho TO orders`` cut-over; post-swap inserts under the
    tracked name with the MIGRATED layout (price widened to (14,4),
    new ``note`` column); and late decoy writes to the parked
    ``_orders_del`` (also not captured). The decode walks ONE pass
    with ``SchemaHistory``: the swap becomes a new generation whose
    same-named columns INHERIT the old identities, so pre-cut-over
    rows surface under the migrated layout with their values carried
    and ``note`` NULL — Debezium's exact contract across an online
    schema migration. The value hash pins both generations' sums, the
    NULL split, and the capture boundary (a leaked backfill/decoy row
    changes n_rows AND the poisoned sums)."""
    import pandas as pd

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    gen0 = schema_from_ddl_history([_RT_CREATE], "tpch.orders")
    ghost = schema_from_ddl_history([_RT_GHOST], "tpch._orders_gho")
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price2"),
            F.expr(
                "cast(cast(o_orderkey % 1000000 as decimal(30,4)) / 10000"
                " as decimal(14,4))"
            ).alias("price4"),
            F.expr(
                "char(65 + o_orderkey % 26) || "
                "char(65 + (o_orderkey div 26) % 26)"
            ).alias("flag"),
            F.expr(
                "repeat('n', o_orderkey % 5) || '#' || o_orderkey"
            ).alias("note"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        from decimal import Decimal as _D

        pre: list = [{"gno": 1, "ddl": _RT_CREATE}]
        gho: list = [{"gno": 2, "ddl": _RT_GHOST}]
        post: list = []
        parked: list = []
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            if rid % 3 == 0:  # generation-0 inserts
                pre.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {"id": rid, "price": r.price2,
                             "flag": r.flag}
                        ],
                    }
                )
            elif rid % 3 == 1:  # post-cut-over inserts
                post.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {"id": rid, "price": r.price4,
                             "note": r.note, "flag": r.flag}
                        ],
                    }
                )
            else:  # id%3==2: poisoned backfill + parked-table decoys
                gho.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {
                                "id": rid,
                                "price": r.price4 + _D("1000"),
                                "note": "backfill-leak",
                                "flag": "XX",
                            }
                        ],
                    }
                )
                parked.append(
                    {
                        "gno": rid * 100,
                        "op": "w",
                        "rows": [
                            {
                                "id": rid,
                                "price": r.price2 + _D("1000"),
                                "flag": "ZZ",
                            }
                        ],
                    }
                )
        gho.append({"gno": 3, "ddl": _RT_CUTOVER})
        blob = build_binlog_file(
            "tpch", "orders", gen0, pre, checksum=True
        )
        blob += build_binlog_file(
            "tpch", "_orders_gho", ghost, gho, checksum=True
        )[4:]
        blob += build_binlog_file(
            "tpch", "orders", ghost, post, checksum=True
        )[4:]
        blob += build_binlog_file(
            "tpch", "_orders_del", gen0, parked, checksum=True
        )[4:]
        return blob

    decoded = _decode_files(
        _encode_files(base, build), ghost, "tpch", "orders",
        schema_history=SchemaHistory("orders", database="tpch"),
    )
    return decoded.groupBy(
        (F.col("id") % 3).cast("long").alias("gen")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("price") * 10000).cast("long")).alias("price_e4_sum"),
        F.sum(
            (F.ascii("flag") * 256 + F.ascii(F.substring("flag", 2, 1)))
            .cast("long")
        ).alias("flag_ord_sum"),
        F.sum(F.length("note").cast("long")).alias("note_len_sum"),
        F.sum(F.when(F.col("note").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("note_nulls"),
        F.sum(F.col("__gtid") - 10).alias("gtid_sum"),
    )


CDC_BINLOG_TABLE_RENAME_DECODE_SQL = """
SELECT CAST(o_orderkey % 3 AS BIGINT) AS gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 3 = 0
                     THEN (o_orderkey % 100000) * 100
                     ELSE o_orderkey % 1000000 END) AS BIGINT)
         AS price_e4_sum,
       CAST(sum((65 + o_orderkey % 26) * 256 + 65 + (o_orderkey // 26) % 26)
            AS BIGINT) AS flag_ord_sum,
       CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN
           o_orderkey % 5 + 1 + length(CAST(o_orderkey AS VARCHAR))
       END) AS BIGINT) AS note_len_sum,
       CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS note_nulls,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders
WHERE o_orderkey % 3 < 2
GROUP BY 1
"""


QUERIES["cdc_binlog_table_rename_decode"] = cdc_binlog_table_rename_decode
ORACLES["cdc_binlog_table_rename_decode"] = CDC_BINLOG_TABLE_RENAME_DECODE_SQL


def _ddl_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        cdc_binlog_ddl_vec_decode,
    )

    return cdc_binlog_ddl_vec_decode(spark, sf_dir)


def _ddl_vec_sql() -> str:
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        CDC_BINLOG_DDL_SCHEMA_DECODE_SQL,
    )

    return CDC_BINLOG_DDL_SCHEMA_DECODE_SQL


def _ddl_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        cdc_binlog_ddl_split_decode,
    )

    return cdc_binlog_ddl_split_decode(spark, sf_dir)


# the vec-kernel twin of cdc_binlog_ddl_schema_decode: SAME fixture,
# SAME oracle — the columnar multi-generation decode must aggregate
# identically to the scalar walk
QUERIES["cdc_binlog_ddl_vec_decode"] = _ddl_vec
ORACLES["cdc_binlog_ddl_vec_decode"] = _ddl_vec_sql()

# the split-parallel sibling: the same three generations decoded as
# independent transaction-aligned ranges, prefix-seeded histories,
# series-final identity remap — oracle shared verbatim again
QUERIES["cdc_binlog_ddl_split_decode"] = _ddl_split
ORACLES["cdc_binlog_ddl_split_decode"] = _ddl_vec_sql()


def _ddl_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        cdc_binlog_ddl_series_decode,
    )

    return cdc_binlog_ddl_series_decode(spark, sf_dir)


# the fourth sibling: the three generations spread across a ROTATED
# series, read by the zero-declaration entry point
# (mysql_binlog_read_ddl_history) — cross-FILE schema history
QUERIES["cdc_binlog_ddl_series_decode"] = _ddl_series
ORACLES["cdc_binlog_ddl_series_decode"] = _ddl_vec_sql()


# --- CONVERT TO CHARACTER SET: the charset-migration decode --------------------

_CM_CREATE = (
    "CREATE TABLE `tpch`.`orders` ("
    " `id` BIGINT NOT NULL,"
    " `city` VARCHAR(20),"
    " `note` TEXT,"
    " PRIMARY KEY (`id`)"
    ") ENGINE=InnoDB DEFAULT CHARSET=latin1"
)
_CM_CONVERT = (
    "ALTER TABLE `tpch`.`orders` CONVERT TO CHARACTER SET gbk,"
    " ADD COLUMN `tag` CHAR(2)"
)


def cdc_binlog_charset_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``ALTER TABLE ... CONVERT TO CHARACTER SET`` mid-stream — the
    charset-migration DDL a pre-8.0 shop runs on its way off latin1,
    which the fold previously dropped on the floor as a table option
    (silently mis-decoding every later row). One log carries a latin1
    generation (rows with >=0x80 single-byte wire values) and, after
    the CONVERT (whose trailing ADD COLUMN must inherit the NEW gbk
    default — the running-default rule), a gbk generation (two-byte
    CJK wire values). The COLUMNAR kernel decodes both generations
    from one file, choosing the transcoder PER GENERATION through the
    history-resolved column charsets; codepoint sums per generation
    pin both codecs and the boundary in the value hash."""
    import pandas as pd

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    gen0 = schema_from_ddl_history([_CM_CREATE], "tpch.orders")
    gen1 = schema_from_ddl_history(
        [_CM_CREATE, _CM_CONVERT], "tpch.orders"
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("id"))
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        t0: list = [{"gno": 1, "ddl": _CM_CREATE}]
        t1: list = [{"gno": 2, "ddl": _CM_CONVERT}]
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            if rid % 2 == 0:  # latin1 generation
                t0.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {
                                "id": rid,
                                "city": chr(0xC0 + rid % 24) + "v"
                                + chr(0xA1 + rid % 16),
                                "note": "n" + chr(0xE8 + rid % 8),
                            }
                        ],
                    }
                )
            else:  # gbk generation (post-CONVERT)
                t1.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {
                                "id": rid,
                                "city": chr(0x4E00 + rid % 20000),
                                "note": chr(0x4E02 + rid % 93) + "x",
                                "tag": chr(0x4E00 + rid % 26)
                                + chr(0x4E00 + (rid // 26) % 26),
                            }
                        ],
                    }
                )
        blob = build_binlog_file(
            "tpch", "orders", gen0, t0, checksum=True
        )
        blob += build_binlog_file(
            "tpch", "orders", gen1, t1, checksum=True
        )[4:]
        return blob

    decoded = _decode_files(
        _encode_files(base, build), gen1, "tpch", "orders",
        schema_history=SchemaHistory("orders", database="tpch"),
    )
    cp = F.ascii
    return decoded.groupBy(
        (F.col("id") % 2).cast("long").alias("gen")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(
            (cp(F.substring("city", 1, 1))
             + cp(F.substring("city", 3, 1))).cast("long")
        ).alias("city_cp_sum"),
        F.sum(
            (cp(F.substring("note", 1, 1))
             + cp(F.substring("note", 2, 1))).cast("long")
        ).alias("note_cp_sum"),
        F.sum(
            (cp("tag") * F.lit(65536) + cp(F.substring("tag", 2, 1)))
            .cast("long")
        ).alias("tag_cp_sum"),
        F.sum(F.col("__gtid") - 10).alias("gtid_sum"),
    )


CDC_BINLOG_CHARSET_MIGRATION_SQL = """
SELECT CAST(o_orderkey % 2 AS BIGINT) AS gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0
                THEN 192 + o_orderkey % 24 + 161 + o_orderkey % 16
                ELSE 19968 + o_orderkey % 20000 END) AS BIGINT)
         AS city_cp_sum,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0
                THEN 110 + 232 + o_orderkey % 8
                ELSE 19970 + o_orderkey % 93 + 120 END) AS BIGINT)
         AS note_cp_sum,
       CAST(sum(CASE WHEN o_orderkey % 2 = 1
                THEN (19968 + o_orderkey % 26) * 65536
                   + 19968 + (o_orderkey // 26) % 26 END) AS BIGINT)
         AS tag_cp_sum,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders
GROUP BY 1
"""


QUERIES["cdc_binlog_charset_migration"] = cdc_binlog_charset_migration
ORACLES["cdc_binlog_charset_migration"] = CDC_BINLOG_CHARSET_MIGRATION_SQL


# --- DROP TABLE + re-CREATE: the logical table continues -----------------------

_DR_CREATE1 = (
    "CREATE TABLE `tpch`.`orders` ("
    " `id` BIGINT NOT NULL,"
    " `price` DECIMAL(12,2),"
    " `flag` CHAR(2),"
    " PRIMARY KEY (`id`))"
)
_DR_CREATE2 = (
    "CREATE TABLE `tpch`.`orders` ("
    " `id` BIGINT NOT NULL,"
    " `price` DECIMAL(14,4),"
    " `note` VARCHAR(30),"
    " PRIMARY KEY (`id`))"
)


def cdc_binlog_ddl_drop_recreate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DROP TABLE then re-CREATE with a changed layout, mid-stream —
    the blunt-instrument migration (dev resets, ETL reloads, pt-osc
    rollbacks) the schema history previously had no verb for. The
    logical table CONTINUES across the drop: the re-CREATE joins
    same-named columns back to their identities, so generation-0 rows
    surface under the new layout with ``id``/``price`` carried (the
    decimal widened (12,2)->(14,4) on the way), the retired ``flag``
    gone, and the new ``note`` NULL — Debezium's contract for a
    dropped-and-recreated table. Rows written after the re-CREATE
    decode natively. The per-generation sums (and the NULL split) pin
    both the identity join and the drop boundary in the value hash;
    the reference's handler has no DDL path at all — a DROP under it
    simply invalidates the share (binlogdb.cc's delete_table is about
    its OWN metadata, never the stream)."""
    import pandas as pd

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    gen0 = schema_from_ddl_history([_DR_CREATE1], "tpch.orders")
    gen1 = schema_from_ddl_history([_DR_CREATE2], "tpch.orders")
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price2"),
            F.expr(
                "cast(cast(o_orderkey % 1000000 as decimal(30,4)) / 10000"
                " as decimal(14,4))"
            ).alias("price4"),
            F.expr(
                "char(65 + o_orderkey % 26) || "
                "char(65 + (o_orderkey div 26) % 26)"
            ).alias("flag"),
            F.expr(
                "repeat('n', o_orderkey % 5) || '#' || o_orderkey"
            ).alias("note"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        t0: list = [{"gno": 1, "ddl": _DR_CREATE1}]
        t1: list = [
            {"gno": 2, "ddl": "DROP TABLE `tpch`.`orders`"},
            {"gno": 3, "ddl": _DR_CREATE2},
        ]
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            if rid % 3 == 0:
                t0.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {"id": rid, "price": r.price2,
                             "flag": r.flag}
                        ],
                    }
                )
            elif rid % 3 == 1:
                t1.append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {"id": rid, "price": r.price4,
                             "note": r.note}
                        ],
                    }
                )
        blob = build_binlog_file(
            "tpch", "orders", gen0, t0, checksum=True
        )
        blob += build_binlog_file(
            "tpch", "orders", gen1, t1, checksum=True
        )[4:]
        return blob

    decoded = _decode_files(
        _encode_files(base, build), gen1, "tpch", "orders",
        schema_history=SchemaHistory("orders", database="tpch"),
    )
    return decoded.groupBy(
        (F.col("id") % 3).cast("long").alias("gen")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("price") * 10000).cast("long")).alias("price_e4_sum"),
        F.sum(F.length("note").cast("long")).alias("note_len_sum"),
        F.sum(F.when(F.col("note").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("note_nulls"),
        F.sum(F.col("__gtid") - 10).alias("gtid_sum"),
    )


CDC_BINLOG_DDL_DROP_RECREATE_SQL = """
SELECT CAST(o_orderkey % 3 AS BIGINT) AS gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 3 = 0
                     THEN (o_orderkey % 100000) * 100
                     ELSE o_orderkey % 1000000 END) AS BIGINT)
         AS price_e4_sum,
       CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN
           o_orderkey % 5 + 1 + length(CAST(o_orderkey AS VARCHAR))
       END) AS BIGINT) AS note_len_sum,
       CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS note_nulls,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders
WHERE o_orderkey % 3 < 2
GROUP BY 1
"""


QUERIES["cdc_binlog_ddl_drop_recreate"] = cdc_binlog_ddl_drop_recreate
ORACLES["cdc_binlog_ddl_drop_recreate"] = CDC_BINLOG_DDL_DROP_RECREATE_SQL


# --- maintained histograms under CDC deltas -----------------------------------

# injective value map: val(k) = 2*((k*99991) % 2^27) for original
# values, +1 for post-update values — every value in the system is
# UNIQUE, which makes the base build's rank bucketing and the
# boundary-rule delta assignment provably agree (ties straddling a
# bucket edge are the one case where they could differ)
_HM_A = 99991
_HM_M = 134_217_728  # 2^27, above any scale-check key


def _hm_fixture(spark: SparkSession, sf_dir: str):
    """Shared pieces of the maintained-histogram keys: the base
    equi-height build, its frozen K-row boundary grid (collected —
    grid-bounded, the z-probe convention), and the three CDC delta
    relations (inserts / bucket-crossing updates / deletes)."""
    from mysql_cdc_table_spark.operators.round13 import _hist_one_column

    o = t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    val0 = ((F.col("k") * _HM_A) % _HM_M) * 2
    val1 = val0 + 1
    base = o.filter(F.col("k") % 10 != 0).select(
        val0.alias("val"), F.col("k").alias("rid")
    )
    hist = _hist_one_column(base, "maintained")
    grid = sorted(
        hist.select("bucket", "n_rows", "min_val", "max_val").collect(),
        key=lambda r: r["bucket"],
    )
    inserts = o.filter(F.col("k") % 10 == 0).select(
        val0.alias("val"), F.lit(1).alias("sign")
    )
    upd_base = o.filter((F.col("k") % 10 != 0) & (F.col("k") % 7 == 0))
    updates = upd_base.select(
        val0.alias("val"), F.lit(-1).alias("sign")
    ).unionByName(
        upd_base.select(val1.alias("val"), F.lit(1).alias("sign"))
    )
    deletes = o.filter(
        (F.col("k") % 10 != 0)
        & (F.col("k") % 7 != 0)
        & (F.col("k") % 9 == 0)
    ).select(val0.alias("val"), F.lit(-1).alias("sign"))
    return hist, grid, [inserts, updates, deletes]


def _hm_assign(grid):
    """CASE-chain bucket assignment from the frozen grid: min bucket
    whose hi >= val; above-range clamps to the last bucket (the same
    rule the oracle SQL applies)."""

    def assign(c):
        expr = None
        for r in grid[:-1]:
            cond = c <= F.lit(int(r["max_val"]))
            expr = (
                F.when(cond, F.lit(int(r["bucket"])))
                if expr is None
                else expr.when(cond, F.lit(int(r["bucket"])))
            )
        last = F.lit(int(grid[-1]["bucket"]))
        return last if expr is None else expr.otherwise(last)

    return assign


def stats_histogram_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVM discipline applied to the engine's own optimizer stats
    (r14 verdict item 7): the equi-height histogram is built ONCE from
    the base snapshot (the round-13 two-level distributed rank), its
    K-bucket boundary grid is frozen and broadcast, and then N CDC
    delta batches fold into the per-bucket counts INCREMENTALLY —
    inserts +1, deletes -1, updates -1 at the before-value and +1 at
    the after-value, each batch a map-side CASE-chain bucket
    assignment plus one K-row grid merge. ANALYZE never rescans the
    table: per-batch cost is ∝ batch size, state is the K-row grid.
    MySQL itself has no incremental histograms (ANALYZE ... UPDATE
    HISTOGRAM rescans/resamples; the reference delegates all stats to
    the server and stubs its own costs, binlogdb.h:178-187).

    The fixture: base = orders keys with k%10 != 0; batch 1 INSERTS
    the k%10==0 keys, batch 2 UPDATES the k%7==0 base keys to a new
    value (crossing buckets), batch 3 DELETES the k%9==0 survivors.
    The oracle rebuilds the SAME boundary grid with window SQL and
    recounts the FINAL state per bucket from scratch — the maintained
    counts must equal the recount exactly, bucket by bucket
    (cum_rows pins the whole prefix too)."""
    hist, grid, batches = _hm_fixture(spark, sf_dir)
    assign = _hm_assign(grid)

    state = hist.select("bucket", F.col("n_rows").cast("long").alias("n"))
    for batch in batches:
        inc = (
            batch.select(assign(F.col("val")).alias("bucket"), "sign")
            .groupBy("bucket")
            .agg(F.sum("sign").alias("d"))
        )
        state = (
            state.join(inc, "bucket", "left")
            .select(
                "bucket",
                (F.col("n") + F.coalesce(F.col("d"), F.lit(0)))
                .cast("long")
                .alias("n"),
            )
            # grid-sized eager cut: lineage stays flat across batches
            .localCheckpoint(eager=True)
        )

    from pyspark.sql import Window

    bounds = hist.select(
        "bucket",
        F.col("min_val").cast("long").alias("lo"),
        F.col("max_val").cast("long").alias("hi"),
    )
    cum = Window.orderBy("bucket")  # K-sized grid window
    return (
        bounds.join(state, "bucket")
        .select(
            "bucket",
            "lo",
            "hi",
            F.col("n").alias("n_rows"),
            F.sum("n").over(cum).cast("long").alias("cum_rows"),
        )
    )


STATS_HISTOGRAM_MAINTAINED_SQL = """
WITH base AS (
  SELECT ((o_orderkey * 99991) % 134217728) * 2 AS val,
         o_orderkey AS rid
  FROM orders WHERE o_orderkey % 10 <> 0
),
ranked AS (
  SELECT val,
         ((row_number() OVER (ORDER BY val, rid) - 1) * 8)
           // (SELECT count(*) FROM base) AS bucket
  FROM base
),
bounds AS (
  SELECT bucket, min(val) AS lo, max(val) AS hi
  FROM ranked GROUP BY bucket
),
finalv AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0
              THEN ((o_orderkey * 99991) % 134217728) * 2 + 1
              ELSE ((o_orderkey * 99991) % 134217728) * 2 END AS val
  FROM orders
  WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
             AND o_orderkey % 9 = 0)
),
assigned AS (
  SELECT f.k,
         coalesce(min(b.bucket), (SELECT max(bucket) FROM bounds))
           AS bucket
  FROM finalv f LEFT JOIN bounds b ON f.val <= b.hi
  GROUP BY f.k
),
cnt AS (SELECT bucket, count(*) AS n FROM assigned GROUP BY 1)
SELECT b.bucket,
       CAST(b.lo AS BIGINT) AS lo,
       CAST(b.hi AS BIGINT) AS hi,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_rows,
       CAST(sum(coalesce(c.n, 0)) OVER (ORDER BY b.bucket) AS BIGINT)
         AS cum_rows
FROM bounds b LEFT JOIN cnt c ON b.bucket = c.bucket
"""


QUERIES["stats_histogram_maintained"] = stats_histogram_maintained
ORACLES["stats_histogram_maintained"] = STATS_HISTOGRAM_MAINTAINED_SQL


# --- z-order probe #2: row-group pruning WITHIN a bucket -----------------------


def zorder_rowgroup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WITHIN-bucket half of the Z-order story (r14 verdict item
    8): ``persist_zorder_store`` sorts each partition by the full
    ``zkey`` exactly so parquet row-group min/max footers are tight on
    it — this probe exercises that layout. A NARROW 2-D box quantizes
    to its cell grid; besides the partition filter on the candidate
    z-buckets (``zorder_point_probe``'s move), the probe pushes
    ``zkey BETWEEN min(cell keys) AND max(cell keys)`` into the scan —
    every box row's zkey IS one of its cells' interleaves, so the
    range is a valid superset, and because rows are zkey-sorted the
    parquet reader drops whole row groups by footer stats before
    decoding a single page (pytest audits PushedFilters). The residual
    exact box filter finishes; the oracle is the direct box aggregate,
    so over-pruning goes red. At 100 TB this is the two-level prune a
    clustered point lookup lives on: partition directories first,
    row-group footers second, pages only for the ~cells/65536 fraction
    both passes keep."""
    from mysql_cdc_table_spark.operators.round12b import _zorder_expr
    from mysql_cdc_table_spark.operators.round14 import (
        persist_zorder_store,
        zorder_store_dir,
    )
    from mysql_cdc_table_spark.sources import fs as _hfs

    store = zorder_store_dir(sf_dir)
    if not _hfs.exists(spark, store):
        persist_zorder_store(spark, sf_dir, store)
    meta = spark.read.parquet(store + "/meta")
    zx = _zorder_expr("xb", "yb")
    # the narrow box: custkey in [35%, 38%] of the key space,
    # March-April 1994
    cells = meta.selectExpr(
        "maxck",
        "maxck * 35 DIV 100 AS cklo",
        "maxck * 38 DIV 100 AS ckhi",
    ).selectExpr(
        "explode(sequence(least(255, cklo * 256 DIV (maxck + 1)),"
        " least(255, ckhi * 256 DIV (maxck + 1)))) AS xb",
        "sequence("
        " least(255, CAST(datediff(DATE '1994-03-01', DATE '1992-01-01')"
        "   AS BIGINT) * 256 DIV 2500),"
        " least(255, CAST(datediff(DATE '1994-04-30', DATE '1992-01-01')"
        "   AS BIGINT) * 256 DIV 2500)) AS ybs",
    ).selectExpr("xb", "explode(ybs) AS yb")
    probe_bounds = (
        cells.selectExpr(f"CAST({zx} AS BIGINT) AS zk")
        .agg(
            F.min("zk").alias("zmin"),
            F.max("zk").alias("zmax"),
            F.collect_set(F.shiftright("zk", 8).cast("long")).alias("zbs"),
        )
        .first()  # ONE bounded row: <=256 buckets exist in the space
    )
    buckets = sorted(int(b) for b in probe_bounds["zbs"])
    cklo, ckhi = meta.selectExpr(
        "maxck * 35 DIV 100", "maxck * 38 DIV 100"
    ).first()
    rows = spark.read.parquet(store + "/rows")
    probe = rows.where(
        F.col("zbucket").isin(buckets)  # partition-directory pruning
        # row-group pruning: zkey-sorted files serve this from footers
        & F.col("zkey").between(
            int(probe_bounds["zmin"]), int(probe_bounds["zmax"])
        )
        & F.col("custkey").between(int(cklo), int(ckhi))
        & F.col("odate").between("1994-03-01", "1994-04-30")
    )
    return probe.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum("custkey").cast("long").alias("custkey_sum"),
    )


ZORDER_ROWGROUP_PROBE_SQL = """
WITH mx AS (SELECT CAST(max(o_custkey) AS BIGINT) AS maxck FROM orders)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
FROM orders, mx
WHERE o_custkey BETWEEN maxck * 35 // 100 AND maxck * 38 // 100
  AND CAST(o_orderdate AS DATE)
        BETWEEN DATE '1994-03-01' AND DATE '1994-04-30'
"""


QUERIES["zorder_rowgroup_probe"] = zorder_rowgroup_probe
ORACLES["zorder_rowgroup_probe"] = ZORDER_ROWGROUP_PROBE_SQL


# --- interleaved two-table evolving stream ------------------------------------

_MT_A_CREATE = (
    "CREATE TABLE `tpch`.`heads` ("
    " `id` BIGINT NOT NULL, `price` DECIMAL(12,2), PRIMARY KEY (`id`))"
)
_MT_A_ALTER = (
    "ALTER TABLE `tpch`.`heads` ADD COLUMN `status` ENUM('F','O','P')"
)
_MT_B_CREATE = (
    "CREATE TABLE `tpch`.`lines` ("
    " `id` BIGINT NOT NULL, `qty` INT, PRIMARY KEY (`id`))"
)
_MT_B_ALTER = (
    "ALTER TABLE `tpch`.`lines` CHANGE COLUMN `qty` `quantity` BIGINT"
)
_MT_B_RENAME = "RENAME TABLE `tpch`.`lines` TO `tpch`.`linedata`"


def cdc_binlog_ddl_multi_table_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO tables' DDL and DML interleaved in ONE binlog, each
    evolving independently — the Debezium topology the round-14
    verdict called out (a history per table over a shared log). Table
    ``heads`` gains a column mid-stream (ADD ENUM); table ``lines``
    gets a CHANGE COLUMN rename+retype (identity remap required) AND
    is then renamed to ``linedata`` (the fold follows it while the
    other table keeps streaming). Each table decodes with its own
    seeded ``SchemaHistory`` fold over the SAME bytes; the other
    table's DDL folds harmlessly into the side registry, its rows
    into the table-id unbind path — any cross-table bleed (a map
    resolving against the wrong history, a bare-name match stealing a
    same-named column) breaks the per-(table, class) value hash. The
    reference cannot interleave at all: it re-parses one table per
    handler instance and default-skips the DDL events."""
    import pandas as pd

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    a0 = schema_from_ddl_history([_MT_A_CREATE], "tpch.heads")
    a1 = schema_from_ddl_history([_MT_A_CREATE, _MT_A_ALTER], "tpch.heads")
    b0 = schema_from_ddl_history([_MT_B_CREATE], "tpch.lines")
    b1 = schema_from_ddl_history(
        [_MT_B_CREATE, _MT_B_ALTER], "tpch.lines"
    )
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
            (F.col("o_orderkey") % 50000).alias("qty"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        segs: list[tuple] = [
            ("heads", a0, [{"gno": 1, "ddl": _MT_A_CREATE}]),
            ("lines", b0, [{"gno": 2, "ddl": _MT_B_CREATE}]),
            ("heads", a1, [{"gno": 3, "ddl": _MT_A_ALTER}]),
            (
                "linedata",
                b1,
                [
                    {"gno": 4, "ddl": _MT_B_ALTER},
                    {"gno": 5, "ddl": _MT_B_RENAME},
                ],
            ),
        ]
        for r in pdf.itertuples(index=False):
            rid = int(r.id)
            cls = rid % 4
            if cls == 0:  # heads generation 0
                segs[0][2].append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [{"id": rid, "price": r.price}],
                    }
                )
            elif cls == 1:  # lines generation 0
                segs[1][2].append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [{"id": rid, "qty": int(r.qty)}],
                    }
                )
            elif cls == 2:  # heads generation 1 (has status)
                segs[2][2].append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [
                            {"id": rid, "price": r.price,
                             "status": r.status}
                        ],
                    }
                )
            else:  # linedata generation 1 (renamed + retyped)
                segs[3][2].append(
                    {
                        "gno": rid + 10,
                        "op": "w",
                        "rows": [{"id": rid, "quantity": int(r.qty)}],
                    }
                )
        blob = b""
        for i, (tbl, sch, txns) in enumerate(segs):
            part = build_binlog_file(
                "tpch", tbl, sch, txns, checksum=True
            )
            blob += part if i == 0 else part[4:]
        return blob

    files = _encode_files(base, build)
    # each table decodes with its own history seed over the SAME bytes
    heads = _decode_files(
        files, a1, "tpch", "heads",
        schema_history=SchemaHistory("heads", database="tpch"),
    ).select(
        F.lit("A").alias("tbl"),
        "id",
        (F.col("price") * 100).cast("long").alias("val"),
        F.col("status").isNotNull().cast("long").alias("aux"),
        (F.col("__gtid") - 10).alias("gtid"),
    )
    lines = _decode_files(
        files, b1, "tpch", "linedata",
        schema_history=SchemaHistory("lines", database="tpch"),
    ).select(
        F.lit("B").alias("tbl"),
        "id",
        F.col("quantity").cast("long").alias("val"),
        F.lit(0).cast("long").alias("aux"),
        (F.col("__gtid") - 10).alias("gtid"),
    )
    decoded = heads.unionByName(lines)
    return decoded.groupBy(
        "tbl", (F.col("id") % 4).cast("long").alias("cls")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("val").alias("val_sum"),
        F.sum("aux").alias("aux_sum"),
        F.sum("gtid").alias("gtid_sum"),
    )


CDC_BINLOG_DDL_MULTI_TABLE_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS tbl,
       CAST(o_orderkey % 4 AS BIGINT) AS cls,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0
                     THEN o_orderkey % 100000
                     ELSE o_orderkey % 50000 END) AS BIGINT) AS val_sum,
       CAST(sum(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS aux_sum,
       CAST(sum(o_orderkey) AS BIGINT) AS gtid_sum
FROM orders
GROUP BY 1, 2
"""


QUERIES["cdc_binlog_ddl_multi_table_decode"] = cdc_binlog_ddl_multi_table_decode
ORACLES["cdc_binlog_ddl_multi_table_decode"] = CDC_BINLOG_DDL_MULTI_TABLE_SQL


def stats_histogram_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of ``stats_histogram_maintained`` — the same
    three CDC delta batches arrive as a Structured Streaming feed
    (``maxFilesPerTrigger=1`` over ordered staged chunks, the CDC-topic
    shape) and fold into the frozen-boundary grid per micro-batch with
    VERSIONED state commits: batch n reads state ``v{n}``, merges its
    map-side bucket deltas, and writes ``v{n+1}`` — a replayed batch
    recomputes its own version from the same input, so the fold is
    idempotent across checkpoint restarts (the repo's standing
    maintained-store discipline). Per-batch cost is one batch scan +
    one K-row merge + one K-row state write; ANALYZE never rescans.
    The readout joins the final state version against the boundary
    grid and must equal the from-scratch recount — the oracle is
    shared VERBATIM with the batch twin."""
    import hashlib
    import os
    import tempfile

    from mysql_cdc_table_spark.operators.round12 import (
        stage_ordered_chunks,
    )
    from mysql_cdc_table_spark.sources import fs as _hfs

    hist, grid, batches = _hm_fixture(spark, sf_dir)
    assign = _hm_assign(grid)

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:histstream".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"hist_stream_{tag}")
    feed_dir, state_dir, ckpt = (
        f"{root}/feed", f"{root}/state", f"{root}/ckpt",
    )

    feed = None
    for i, b in enumerate(batches):
        part = b.select(
            F.lit(i).alias("chunk"), "val", F.col("sign").cast("int")
        )
        feed = part if feed is None else feed.unionByName(part)
    stage_ordered_chunks(
        spark, feed, "chunk", 3, feed_dir, bounds=[0, 1]
    )

    state_schema = "bucket long, n long"
    if not _hfs.exists(spark, f"{state_dir}/v0"):
        hist.select(
            "bucket", F.col("n_rows").cast("long").alias("n")
        ).coalesce(1).write.mode("overwrite").parquet(f"{state_dir}/v0")

    stream = (
        spark.readStream.schema("chunk int, val long, sign int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        prev = spark.read.schema(state_schema).parquet(
            f"{state_dir}/v{batch_id}"
        )
        inc = (
            batch_df.select(assign(F.col("val")).alias("bucket"), "sign")
            .groupBy("bucket")
            .agg(F.sum("sign").alias("d"))
        )
        (
            prev.join(inc, "bucket", "left")
            .select(
                "bucket",
                (F.col("n") + F.coalesce(F.col("d"), F.lit(0)))
                .cast("long")
                .alias("n"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{state_dir}/v{batch_id + 1}")
        )

    run_to_completion(
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .queryName("stats_histogram_stream")
    )

    versions = sorted(
        int(n[1:])
        for n in _hfs.list_names(spark, state_dir)
        if n.startswith("v")
    )
    final = spark.read.schema(state_schema).parquet(
        f"{state_dir}/v{versions[-1]}"
    )

    from pyspark.sql import Window

    bounds = hist.select(
        "bucket",
        F.col("min_val").cast("long").alias("lo"),
        F.col("max_val").cast("long").alias("hi"),
    )
    cum = Window.orderBy("bucket")  # K-sized grid window
    return (
        bounds.join(final, "bucket")
        .select(
            "bucket",
            "lo",
            "hi",
            F.col("n").alias("n_rows"),
            F.sum("n").over(cum).cast("long").alias("cum_rows"),
        )
    )


QUERIES["stats_histogram_streaming"] = stats_histogram_streaming
ORACLES["stats_histogram_streaming"] = STATS_HISTOGRAM_MAINTAINED_SQL
