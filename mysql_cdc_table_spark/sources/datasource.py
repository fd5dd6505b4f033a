"""Registration of the engine's Spark DataSources — the idiomatic
analogue of the reference's storage-engine plugin registration
(MYSQL_ADD_PLUGIN ... STORAGE_ENGINE, reference CMakeLists.txt:34,
handlerton wiring binlogdb.cc:857-900): register once, then

    spark.read.format("mysql_binlog")
         .option("schema_ddl", "id bigint, v string, ...")
         .load("/path/dir")

yields the standard changelog DataFrame. Without ``schema_ddl`` the
batch read learns the layout from the series' own DDL statements and
returns the series-final layout (``MysqlBinlogReader``). The same
format writes v4 files (``df.write.format("mysql_binlog")``), and
``format("mysql_binlog_tail")`` is the streaming twin, which needs
``schema_ddl``. Both sources live in sources/mysql_binlog.py; this
module keeps the worker-safe DDL parser they share.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import types as T

# DataSource instances are (re)created inside Python workers where no
# SparkSession exists, so StructType.fromDDL (JVM-backed) is off-limits:
# parse the simple "name type, ..." DDL locally.
_DDL_TYPES = {
    "boolean": T.BooleanType(),
    "smallint": T.ShortType(),
    "short": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def _parse_ddl(ddl: str) -> T.StructType:
    """Parse the source's simple DDL. Beyond the Spark scalar names this
    accepts the MySQL-only column kinds the reference's users hold
    (SURVEY §1.2; wire forms in sources/mysql_binlog.py):

        color enum(red,green,blue)   -> string + {"mysql_type": "enum"}
        flags set(a,b,c)             -> string + {"mysql_type": "set"}
        b bit                        -> bigint + {"mysql_type": "bit"}
        doc json                     -> string + {"mysql_type": "json"}

    A ``StructType.json()`` string is accepted too (parsed with the
    pure-Python ``StructType.fromJson``); it carries the field metadata
    the DDL cannot say (charset, unsigned kinds, fsp, ...).
    """
    if ddl.lstrip().startswith("{"):
        return T.StructType.fromJson(json.loads(ddl))
    fields = []
    for part in re.split(r",(?![^()]*\))", ddl):  # commas outside parens only
        # split on the FIRST whitespace run only: 'price decimal(10, 2)'
        # keeps its parenthesized type intact (internal spaces squeezed out
        # before matching).
        name, typ = part.strip().split(None, 1)
        key = re.sub(r"\s+", "", typ).lower()
        meta: dict = {}
        m = re.match(r"decimal\((\d+),(\d+)\)", key)
        e = re.match(r"(enum|set)\(([^)]*)\)", key)
        if m:
            dt = T.DecimalType(int(m.group(1)), int(m.group(2)))
        elif e:
            dt = T.StringType()
            meta = {"mysql_type": e.group(1), "values": e.group(2).split(",")}
        elif key == "bit":
            dt = T.LongType()
            meta = {"mysql_type": "bit"}
        elif key == "json":
            dt = T.StringType()
            meta = {"mysql_type": "json"}
        elif key == "geometry":
            dt = T.BinaryType()
            meta = {"mysql_type": "geometry"}
        else:
            dt = _DDL_TYPES[key]
        fields.append(T.StructField(name.strip(), dt, metadata=meta))
    return T.StructType(fields)


def register(spark) -> None:
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        MysqlBinlogDataSource,
        MysqlBinlogTailDataSource,
    )

    spark.dataSource.register(MysqlBinlogTailDataSource)
    spark.dataSource.register(MysqlBinlogDataSource)
