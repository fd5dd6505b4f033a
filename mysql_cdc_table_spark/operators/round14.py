"""Round-14 operators: histogram CONSUMERS.

Round 13 built the equi-height column histograms MySQL's ANALYZE
produces (``stats_column_histogram``); this round adds what the server
builds them FOR:

- ``stats_selectivity_estimate`` — the optimizer's selectivity math:
  estimate a range predicate's row fraction from the K-bucket
  histogram (complete buckets count fully, the boundary bucket
  interpolates linearly on the value range) and compare against the
  exact answer. This is the surface behind MySQL's histogram-based
  ``records_in_range`` — the very call the reference stubs to a
  constant 10 (``binlogdb.cc:803-806``), so a real engine needs
  exactly this consumer.
- ``zorder_point_probe`` — the PROBE side of the Z-order clustering
  key (``sort_zorder_layout`` proved the layout; this closes the loop
  from "clustering key exists" to "a point/box lookup uses it"): a
  2-D box predicate resolves to the bounded set of z-buckets its
  quantized cells interleave into, the probe reads ONLY those
  partitions of the persisted store, and a residual filter finishes
  the job exactly. The reference's secondary-index path is dead code
  (``binlogdb.cc:396-461`` advertises HA_READ orders it never
  serves); this is the Spark-native answer to the same need.

All math is integer-exact and shared between engines (Spark ``DIV``
== DuckDB ``//``, both truncate toward zero on nonnegative operands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_cdc_table_spark.operators._util import t
from mysql_cdc_table_spark.operators.round13 import (
    HIST_BUCKETS,
    _hist_one_column,
)
from mysql_cdc_table_spark.streaming.cdc_stream import run_to_completion

QUERIES: dict = {}
ORACLES: dict = {}


# --- selectivity estimation from the equi-height histogram -------------------

_SEL_PROBES = 9  # k = 0..8 -> c_k spans [gmin, gmax] in eighths


def stats_selectivity_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based selectivity of ``val <= c`` for a grid of probe
    constants, vs the exact count — the optimizer consumer of
    ``stats_column_histogram``'s buckets.

    Estimate rule (MySQL's equi-height read path, integer-exact here):
    a bucket with ``max_val <= c`` contributes all its rows; the
    bucket containing ``c`` interpolates linearly on the CLOSED value
    range, ``n_rows * (c - min_val + 1) DIV (max_val - min_val + 1)``
    (scaled x1000 so the division happens once, identically in both
    engines); later buckets contribute nothing. Probe constants are
    data-derived (eighths of the [min, max] span) so the key exercises
    boundary buckets at every scale.

    Shape: the histogram build is round 13's two-level distributed
    rank; the estimate is a (K x 9)-cell grid computation; the exact
    side is ONE data scan with 9 conditional map-side-combinable sums
    (no 9x row expansion). Nothing here grows with data size except
    the two scans a real ANALYZE-plus-verify would also make."""
    o = t(spark, sf_dir, "orders")
    vals = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("val"),
        F.col("o_orderkey").alias("rid"),
    )
    hist = _hist_one_column(vals, "cents")
    mm = vals.agg(
        F.min("val").cast("long").alias("gmin"),
        F.max("val").cast("long").alias("gmax"),
    )
    probes = mm.selectExpr(
        f"explode(sequence(0L, {_SEL_PROBES - 1}L)) AS k", "gmin", "gmax"
    ).selectExpr(
        "k",
        f"gmin + (gmax - gmin) * k DIV {_SEL_PROBES - 1} AS c",
    )
    est = (
        hist.crossJoin(F.broadcast(probes))  # K x 9 grid, never data-sized
        .selectExpr(
            "k",
            "c",
            "CASE WHEN max_val <= c THEN n_rows * 1000 "
            "WHEN min_val <= c THEN "
            "  (n_rows * (c - min_val + 1) * 1000) "
            "    DIV (max_val - min_val + 1) "
            "ELSE 0 END AS contrib",
        )
        .groupBy("k", "c")
        .agg(F.sum("contrib").cast("long").alias("est_rows_x1000"))
    )
    # exact side: one scan, 9 conditional sums (map-side combine), then
    # a stack of the 1-row wide result into the probe grid
    joined = vals.crossJoin(F.broadcast(mm))
    aggs = [
        F.sum(
            F.expr(
                f"CASE WHEN val <= gmin + (gmax - gmin) * {k} "
                f"DIV {_SEL_PROBES - 1} THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias(f"a_{k}")
        for k in range(_SEL_PROBES)
    ]
    wide = joined.agg(*aggs)
    stack_args = ", ".join(f"{k}L, a_{k}" for k in range(_SEL_PROBES))
    actual = wide.selectExpr(
        f"stack({_SEL_PROBES}, {stack_args}) AS (k, actual_rows)"
    )
    return (
        est.join(actual, "k")
        .selectExpr(
            "CAST(k AS BIGINT) AS k",
            "CAST(c AS BIGINT) AS c",
            "CAST(actual_rows AS BIGINT) AS actual_rows",
            "CAST(est_rows_x1000 AS BIGINT) AS est_rows_x1000",
            "CAST(abs(est_rows_x1000 - actual_rows * 1000) AS BIGINT)"
            " AS err_x1000",
        )
        .orderBy("k")
    )


STATS_SELECTIVITY_ESTIMATE_SQL = f"""
WITH vals AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS val,
         o_orderkey AS rid
  FROM orders
),
mm AS (SELECT min(val) AS gmin, max(val) AS gmax FROM vals),
probes AS (
  SELECT r.k AS k,
         gmin + (gmax - gmin) * r.k // {_SEL_PROBES - 1} AS c
  FROM mm, range({_SEL_PROBES}) AS r(k)
),
bucketed AS (
  SELECT val,
         ((row_number() OVER (ORDER BY val, rid) - 1) * {HIST_BUCKETS})
             // count(*) OVER () AS bucket
  FROM vals
),
hist AS (
  SELECT bucket, count(*) AS n_rows,
         min(val) AS min_val, max(val) AS max_val
  FROM bucketed GROUP BY bucket
),
est AS (
  SELECT p.k, p.c,
         CAST(sum(CASE WHEN h.max_val <= p.c THEN h.n_rows * 1000
                       WHEN h.min_val <= p.c THEN
                         (h.n_rows * (p.c - h.min_val + 1) * 1000)
                             // (h.max_val - h.min_val + 1)
                       ELSE 0 END) AS BIGINT) AS est_rows_x1000
  FROM hist h CROSS JOIN probes p GROUP BY p.k, p.c
),
act AS (
  SELECT p.k,
         CAST(sum(CASE WHEN v.val <= p.c THEN 1 ELSE 0 END) AS BIGINT)
           AS actual_rows
  FROM vals v CROSS JOIN probes p GROUP BY p.k
)
SELECT CAST(e.k AS BIGINT) AS k,
       CAST(e.c AS BIGINT) AS c,
       a.actual_rows,
       e.est_rows_x1000,
       CAST(abs(e.est_rows_x1000 - a.actual_rows * 1000) AS BIGINT)
         AS err_x1000
FROM est e JOIN act a ON a.k = e.k
ORDER BY e.k
"""


# --- Z-order point/box probe over the persisted clustered store -------------

_ZSTORE_FORMAT = "v1"


def zorder_store_dir(sf_dir: str) -> str:
    """Deterministic on-disk location for one dataset's z-ordered
    store — same keying convention as ``ivf_index_dir``, plus a cheap
    dataset fingerprint (total size + newest mtime of the orders
    parquet files) so regenerating the dataset IN PLACE invalidates
    the tag instead of silently serving the stale clustered store
    (advisor finding, round 14)."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "orders.parquet")
    fp = 0
    if os.path.exists(src):
        paths = (
            [
                os.path.join(r, f)
                for r, _, fs in os.walk(src)
                for f in fs
            ]
            if os.path.isdir(src)
            else [src]
        )
        sizes = [os.stat(p) for p in paths]
        fp = sum(s.st_size for s in sizes) ^ max(
            (s.st_mtime_ns for s in sizes), default=0
        )
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{fp}:{_ZSTORE_FORMAT}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"zorder_store_{tag}")


def persist_zorder_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> None:
    """Write orders clustered by the Z-order key, PARTITIONED BY its
    top byte (``zbucket``) — the storage layout a 2-D probe prunes:

    - ``rows/`` — (custkey, odate, cents, zkey) partitioned by
      zbucket; repartitionByRange(zkey) + sortWithinPartitions keeps
      each output task writing a handful of adjacent bucket dirs and
      the rows inside each file z-ordered (parquet min/max row-group
      stats then prune WITHIN a bucket too);
    - ``meta/`` — the 1-row quantization scalar (maxck) a probe needs
      to map box coordinates onto the stored grid without scanning.

    Same stage-then-rename swap as the IVF index: a reader never sees
    a half-written store, a lost race keeps the winner's copy. The
    quantization is ``sort_zorder_layout``'s exactly (8-bit grids,
    integer DIV), so the layout the benchmark key proved is the layout
    this store persists."""
    import uuid

    from mysql_cdc_table_spark.operators.round12b import _zorder_expr
    from mysql_cdc_table_spark.sources import fs as _hfs

    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_custkey").cast("long").alias("maxck"))
    zx = _zorder_expr("xb", "yb")
    rows = (
        o.crossJoin(F.broadcast(mx))
        .selectExpr(
            "CAST(o_custkey AS BIGINT) AS custkey",
            "CAST(o_orderdate AS DATE) AS odate",
            "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents",
            "least(255, o_custkey * 256 DIV (maxck + 1)) AS xb",
            "least(255, CAST(datediff(o_orderdate, DATE '1992-01-01')"
            " AS BIGINT) * 256 DIV 2500) AS yb",
        )
        .selectExpr(
            "custkey", "odate", "cents",
            f"CAST({zx} AS BIGINT) AS zkey",
            f"CAST(({zx}) >> 8 AS BIGINT) AS zbucket",
        )
    )
    staging = f"{store_dir}.staging-{uuid.uuid4().hex[:12]}"
    (
        rows.repartitionByRange(32, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(staging + "/rows")
    )
    mx.coalesce(1).write.mode("overwrite").parquet(staging + "/meta")
    if _hfs.exists(spark, store_dir):
        _hfs.delete(spark, staging)  # lost the race: winner's copy stands
        return
    try:
        _hfs.rename(spark, staging, store_dir)
    except Exception:
        _hfs.delete(spark, staging)
        if not _hfs.exists(spark, store_dir):
            raise


def zorder_point_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Answer a 2-D box predicate THROUGH the z-ordered store: the box
    (custkey in [3/10, 4/10] of the key space x H1-1994 order dates)
    quantizes to a bounded cell grid, the grid's cells interleave to
    the candidate z-buckets (a <=256-row collect, the IVF-probe
    convention: bounded driver scalar pushed as a PARTITION filter),
    the scan reads only those bucket directories, and the residual box
    filter on the stored coordinates finishes exactly. Quantization is
    monotonic, so the candidate set is a SUPERSET of every bucket a
    box row can live in — pruning can drop only non-matching rows
    (pytest proves both the superset property and that the pruned scan
    touches a fraction of the store's files).

    At 100 TB: zbucket is the storage partition key; the probe's cost
    is candidate-buckets/256 of the store plus footer-pruned row
    groups inside each — the point-lookup economics the reference's
    dead index path (binlogdb.cc:396-461) advertises but never serves.
    The oracle is the direct box aggregate over orders — the probe
    must be EXACTLY that, or the pruning dropped real rows."""
    from mysql_cdc_table_spark.operators.round12b import _zorder_expr
    from mysql_cdc_table_spark.sources import fs as _hfs

    store = zorder_store_dir(sf_dir)
    if not _hfs.exists(spark, store):
        persist_zorder_store(spark, sf_dir, store)
    meta = spark.read.parquet(store + "/meta")
    zx = _zorder_expr("xb", "yb")
    # candidate buckets: quantize the box corners with the STORED
    # scalar, explode the closed cell grid, interleave — all on the
    # 1-row meta singleton, never on data
    cells = meta.selectExpr(
        "maxck",
        "maxck * 3 DIV 10 AS cklo",
        "maxck * 4 DIV 10 AS ckhi",
    ).selectExpr(
        "explode(sequence(least(255, cklo * 256 DIV (maxck + 1)),"
        " least(255, ckhi * 256 DIV (maxck + 1)))) AS xb",
        "sequence("
        " least(255, CAST(datediff(DATE '1994-01-01', DATE '1992-01-01')"
        "   AS BIGINT) * 256 DIV 2500),"
        " least(255, CAST(datediff(DATE '1994-06-30', DATE '1992-01-01')"
        "   AS BIGINT) * 256 DIV 2500)) AS ybs",
    ).selectExpr("xb", "explode(ybs) AS yb")
    buckets = sorted(
        r[0]
        for r in cells.selectExpr(f"CAST(({zx}) >> 8 AS BIGINT) AS zb")
        .distinct()
        .collect()  # bounded: <=256 buckets exist in the whole space
    )
    rows = spark.read.parquet(store + "/rows")
    cklo, ckhi = meta.selectExpr(
        "maxck * 3 DIV 10", "maxck * 4 DIV 10"
    ).first()
    probe = rows.where(
        F.col("zbucket").isin(buckets)  # partition-directory pruning
        & F.col("custkey").between(int(cklo), int(ckhi))
        & F.col("odate").between("1994-01-01", "1994-06-30")
    )
    return probe.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum("custkey").cast("long").alias("custkey_sum"),
    )


ZORDER_POINT_PROBE_SQL = """
WITH mx AS (SELECT CAST(max(o_custkey) AS BIGINT) AS maxck FROM orders)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
FROM orders, mx
WHERE o_custkey BETWEEN maxck * 3 // 10 AND maxck * 4 // 10
  AND CAST(o_orderdate AS DATE)
        BETWEEN DATE '1994-01-01' AND DATE '1994-06-30'
"""


QUERIES.update(
    {
        "stats_selectivity_estimate": stats_selectivity_estimate,
        "zorder_point_probe": zorder_point_probe,
    }
)
ORACLES.update(
    {
        "stats_selectivity_estimate": STATS_SELECTIVITY_ESTIMATE_SQL,
        "zorder_point_probe": ZORDER_POINT_PROBE_SQL,
    }
)


# --- streaming schema-history migration --------------------------------------
#
# The Debezium contract END TO END: the connector learns layouts only
# from the DDL in the log, and when an ALTER lands mid-stream the SINK
# must migrate — renamed columns carry their values, retyped columns
# cast, added columns widen NULL — without re-reading history. The
# reference cannot see QUERY events at all (binlog_table_reader.cc:
# 427-428); cdc_binlog_streaming_evolution (round 12b) proved ADD-only
# widening; this key proves the full MODIFY/CHANGE/ADD migration of a
# MAINTAINED store.

_DDLMIG_CREATE = (
    "CREATE TABLE `tpch`.`orders` (\n"
    "  `id` BIGINT NOT NULL,\n"
    "  `price` DECIMAL(12,2),\n"
    "  `flag` CHAR(2),\n"
    "  PRIMARY KEY (`id`)\n"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
)
_DDLMIG_ALTER = (
    "ALTER TABLE `tpch`.`orders` "
    "MODIFY COLUMN `price` DECIMAL(14,4), "
    "CHANGE COLUMN `flag` `cflag` CHAR(2), "
    "ADD COLUMN `status` ENUM('F','O','P') NULL"
)

_DDLMIG_META = [
    ("__op", "int"),
    ("__gtid", "long"),
    ("__event_seq", "long"),
    ("__image_seq", "int"),
]


def _ddlmig_store_struct(gen_schema):
    from pyspark.sql import types as T

    meta = {
        "int": T.IntegerType(),
        "long": T.LongType(),
    }
    return T.StructType(
        list(gen_schema.fields)
        + [T.StructField(n, meta[ty]) for n, ty in _DDLMIG_META]
    )


def _ddlmig_apply_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    pre,
    after,
    stmts: list,
) -> None:
    """One micro-batch of latest-state maintenance under a SCHEMA
    MIGRATION: if the generation changed since the previous version
    (``pre`` = the SchemaHistory before this batch's DDL, ``after`` =
    including it), the stored state is first projected onto the new
    layout BY COLUMN IDENTITY — renamed columns keep their values,
    retyped columns cast, added columns surface NULL, dropped columns
    vanish — then the usual delta-proportional fold applies (anti
    carry / semi + max_by re-fold, tombstones kept; the
    evolution_apply_batch shape). Exactly-once via the versioned
    commit, which also persists the full DDL statement list as the
    version's ``H`` frame — Debezium's durable schema history: a
    restarted consumer resuming from the checkpoint re-seeds its
    history from the store instead of the closure it lost."""
    from mysql_cdc_table_spark.operators.round12 import (
        _commit_version,
        _ivm_versions,
    )
    from mysql_cdc_table_spark.sources import fs as _hfs

    if _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
        return
    vs = _ivm_versions(spark, state_dir)
    after_struct = _ddlmig_store_struct(after.schema)
    meta_names = [n for n, _ in _DDLMIG_META]
    cols = [f.name for f in after.schema.fields] + meta_names
    if vs:
        store = spark.read.schema(
            _ddlmig_store_struct(pre.schema)
        ).parquet(f"{state_dir}/v{vs[-1]}/D")
        if pre.schema != after.schema or pre.ids != after.ids:
            pre_by_id = {i: n for n, i in zip(pre.names, pre.ids)}
            sel = [
                (
                    F.col(pre_by_id[i]).cast(f.dataType)
                    if i in pre_by_id
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f, i in zip(after.schema.fields, after.ids)
            ] + [F.col(n) for n in meta_names]
            store = store.select(*sel)
    else:
        store = spark.createDataFrame([], after_struct)
    batch = batch_df.select(*cols)
    keys = batch.select("id").distinct()
    carried = store.join(F.broadcast(keys), "id", "anti")
    touched = store.join(F.broadcast(keys), "id", "semi").unionByName(batch)
    ordc = F.struct("__gtid", "__event_seq", "__image_seq")
    folded = (
        touched.groupBy("id")
        .agg(F.max_by(F.struct(*cols), ordc).alias("s"))
        .select("s.*")
    )
    hframe = spark.createDataFrame(
        list(enumerate(stmts)), "seq long, statement string"
    )
    _commit_version(
        spark,
        state_dir,
        batch_id,
        {"D": carried.unionByName(folded), "H": hframe},
        2,
    )


def _ddlmig_load_history(spark: SparkSession, state_dir: str) -> list:
    """Recover the durable schema history from the latest version's
    ``H`` frame (empty history when no version exists — a fresh
    stream). The restart path: a consumer resuming from the streaming
    checkpoint gets batch N+1 first and must know batches 0..N's DDL."""
    from mysql_cdc_table_spark.operators.round12 import _ivm_versions

    vs = _ivm_versions(spark, state_dir)
    if not vs:
        return []
    rows = (
        spark.read.schema("seq long, statement string")
        .parquet(f"{state_dir}/v{vs[-1]}/H")
        .orderBy("seq")
        .collect()  # statement-count-bounded
    )
    return [r["statement"] for r in rows]


def cdc_binlog_streaming_ddl_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MODIFY/CHANGE/ADD arriving MID-STREAM through the SCHEMA
    HISTORY, migrating a maintained store: a 4-file binlog feed —
    files 1-2 open with CREATE TABLE and insert the whole key space
    under the (id, price DECIMAL(12,2), flag CHAR(2)) generation; file
    3 carries the ALTER (price retyped to DECIMAL(14,4), flag RENAMED
    to cflag, status ADDED) followed by updates framed under the new
    generation; file 4 deletes — consumed maxFilesPerTrigger=1 through
    foreachBatch. Per batch: the DDL statements are extracted from the
    blob (statement-count-bounded collect), the batch decodes through
    the columnar kernel (``_decode_files(schema_history=...)``) seeded
    with the statements of PRIOR batches (its own DDL folds in-walk),
    and the store — which by the ALTER batch already holds two batches
    of old-generation state — MIGRATES by column identity before the fold
    (rename carries values, retype casts, add widens NULL). The store
    is keyed under names the stream itself taught it; nothing is
    declared wide upfront. Readout groups the final version's alive
    rows by status-nullness; cents, cflag ordinals (the RENAMED
    column's values — a dropped-on-migration rename zeroes this) and
    gtid sums sit in the value hash. Scale: per batch cost ∝ batch +
    touched keys; the migration is one projection of the store, no
    history re-read."""
    import hashlib
    import os
    import tempfile
    from decimal import Decimal as _D
    from typing import Iterator

    import pandas as pd

    from mysql_cdc_table_spark.operators.round12 import (
        _ivm_versions,
        stage_ordered_chunks,
    )
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        binlog_bytes_ddl,
        build_binlog_file,
    )
    from mysql_cdc_table_spark.sources.mysql_ddl import (
        SchemaHistory,
        schema_from_ddl_history,
    )

    gen0 = schema_from_ddl_history([_DDLMIG_CREATE], "tpch.orders")
    gen1 = schema_from_ddl_history(
        [_DDLMIG_CREATE, _DDLMIG_ALTER], "tpch.orders"
    )
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.expr(
            "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
            " as decimal(12,2))"
        ).alias("price"),
        F.expr(
            "char(65 + o_orderkey % 26) || "
            "char(65 + (o_orderkey div 26) % 26)"
        ).alias("flag"),
        F.col("o_orderstatus").alias("status"),
    )
    def build(chunk: int):
        def run(pdf: pd.DataFrame) -> bytes:
            txns: list = []
            if chunk == 0:
                txns.append({"gno": 1, "ddl": _DDLMIG_CREATE})
            if chunk == 2:
                txns.append({"gno": 3, "ddl": _DDLMIG_ALTER})
            for r in pdf.itertuples(index=False):
                rid = int(r.id)
                if chunk in (0, 1):  # CREATE-generation inserts
                    txns.append(
                        {
                            "gno": rid * 10,
                            "op": "w",
                            "rows": [
                                {"id": rid, "price": r.price,
                                 "flag": r.flag}
                            ],
                        }
                    )
                elif chunk == 2:  # post-ALTER updates (id%3==0)
                    before = {
                        "id": rid, "price": r.price,
                        "cflag": r.flag, "status": None,
                    }
                    after_img = {
                        "id": rid, "price": r.price + _D(1),
                        "cflag": r.flag, "status": r.status,
                    }
                    txns.append(
                        {
                            "gno": rid * 10 + 5,
                            "op": "u",
                            "rows": [(before, after_img)],
                        }
                    )
                else:  # post-ALTER deletes (id%7==0)
                    last = (
                        {
                            "id": rid, "price": r.price + _D(1),
                            "cflag": r.flag, "status": r.status,
                        }
                        if rid % 3 == 0
                        else {
                            "id": rid, "price": r.price,
                            "cflag": r.flag, "status": None,
                        }
                    )
                    txns.append(
                        {"gno": rid * 10 + 7, "op": "d", "rows": [last]}
                    )
            schema = gen0 if chunk in (0, 1) else gen1
            return build_binlog_file("tpch", "orders", schema, txns)

        return run

    chunks = [
        base.filter(F.col("id") % 2 == 0),
        base.filter(F.col("id") % 2 == 1),
        base.filter(F.col("id") % 3 == 0),
        base.filter(F.col("id") % 7 == 0),
    ]
    blobs = None
    for i, part in enumerate(chunks):
        # encode in PARALLEL (no coalesce(1)): chunk-0 blobs each
        # re-state the CREATE and chunk-2 blobs the ALTER (the history
        # fold dedupes re-statements), while chunk-1/3 blobs carry no
        # DDL at all — they decode correctly because the staged batch
        # ordering plus the durable H-frame history seed the decoder
        # before their batches arrive; measured 6.8x faster fixture
        # staging at sf1 vs the single-partition encode
        b = _encode_files(part, build(i)).withColumn("chunk", F.lit(i))
        blobs = b if blobs is None else blobs.unionByName(b)
    # materialize the encode ONCE with full parallelism: the staging
    # write funnels through coalesce(1), which would otherwise pull
    # the whole (recomputed-per-chunk) encode into a single task
    blobs = blobs.localCheckpoint(eager=True)

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ddlmig".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"binlog_ddlmig_{tag}")
    feed_dir, state_dir, ckpt = (
        f"{root}/feed", f"{root}/state", f"{root}/ckpt",
    )
    stage_ordered_chunks(
        spark, blobs, "chunk", 4, feed_dir, bounds=[0, 1, 2]
    )

    def extract_ddl(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                recs = binlog_bytes_ddl(bytes(blob))
                yield pd.DataFrame(
                    {
                        "pos": [int(r["offset"]) for r in recs],
                        "statement": [r["statement"] for r in recs],
                    }
                )

    stream = (
        spark.readStream.schema(blobs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    hist_state: dict = {}

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if "stmts" not in hist_state:
            # fresh stream OR checkpoint restart: recover the durable
            # history from the store (the closure's copy dies with the
            # driver; Debezium persists exactly this)
            hist_state["stmts"] = _ddlmig_load_history(spark, state_dir)
        ddl = sorted(
            batch_df.mapInPandas(
                extract_ddl, schema="pos long, statement string"
            ).collect(),  # statement-count-bounded: the file's DDL only
            key=lambda r: r["pos"],
        )
        prior = list(hist_state["stmts"])
        # exact-duplicate statements fold ONCE: every blob in a batch
        # is self-describing (the encoder re-states the generation's
        # DDL per blob so each decodes standalone — mapInPandas may
        # split one chunk into several Arrow batches), and a replayed
        # log segment re-logs statements verbatim; MySQL cannot log
        # the same CREATE/ALTER twice in a row, so identical text is
        # always a re-statement, never a second schema change.
        seen = set(prior)
        new_stmts = []
        for r in ddl:
            s = r["statement"]
            if s not in seen:
                seen.add(s)
                new_stmts.append(s)
        hist_state["stmts"] = prior + new_stmts
        pre = SchemaHistory("orders", database="tpch")
        for s in prior:
            pre.apply(s)
        after = SchemaHistory("orders", database="tpch")
        for s in prior + new_stmts:
            after.apply(s)
        decoded = _decode_files(
            batch_df, after.schema, "tpch", "orders", schema_history=pre
        )
        _ddlmig_apply_batch(
            spark, decoded, state_dir, batch_id, pre, after,
            hist_state["stmts"],
        )

    run_to_completion(
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .queryName("cdc_binlog_ddlmig_stream")
    )
    vs = _ivm_versions(spark, state_dir)
    final = spark.read.schema(_ddlmig_store_struct(gen1)).parquet(
        f"{state_dir}/v{vs[-1]}/D"
    )
    return (
        final.filter(F.col("__op") != 0)
        .groupBy(F.col("status").isNotNull().alias("post_alter"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum((F.col("price") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
            F.sum(
                (F.ascii("cflag") * 256
                 + F.ascii(F.substring("cflag", 2, 1))).cast("long")
            ).cast("long").alias("flag_ord_sum"),
            F.sum("__gtid").cast("long").alias("gtid_sum"),
        )
        .orderBy("post_alter")
    )


# Fixture arithmetic: alive keys are id%7!=0; id%3==0 keys carry the
# update's +100 cents, a status, and gtid id*10+5; everyone else keeps
# the insert image (NULL status after migration, gtid id*10). cflag is
# the MIGRATED rename of flag — its ordinals must survive for every
# alive key, old generation included.
CDC_BINLOG_STREAMING_DDL_MIGRATION_SQL = """
WITH alive AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 3 = 0
              THEN CAST(o_orderkey % 100000 AS BIGINT) + 100
              ELSE CAST(o_orderkey % 100000 AS BIGINT) END AS cents,
         (o_orderkey % 3 = 0) AS post_alter,
         (65 + o_orderkey % 26) * 256 + 65 + (o_orderkey // 26) % 26
           AS ford,
         CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey * 10 + 5
              ELSE o_orderkey * 10 END AS gtid
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT post_alter, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(sum(ford) AS BIGINT) AS flag_ord_sum,
       CAST(sum(gtid) AS BIGINT) AS gtid_sum
FROM alive GROUP BY 1 ORDER BY 1
"""


QUERIES["cdc_binlog_streaming_ddl_migration"] = (
    cdc_binlog_streaming_ddl_migration
)
ORACLES["cdc_binlog_streaming_ddl_migration"] = (
    CDC_BINLOG_STREAMING_DDL_MIGRATION_SQL
)


# --- records_in_range: the two-sided form ------------------------------------

_RIR_WINDOWS = 8  # k = 0..7 -> [lo_k, hi_k] spans two eighths each


def stats_records_in_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``records_in_range(min_key, max_key)`` — the EXACT handler call
    the reference stubs to a constant 10 (``binlogdb.cc:803-806``),
    answered from the equi-height histogram: for each of 8 overlapping
    probe windows [lo_k, hi_k] (two eighths of the value span each),
    every bucket contributes ``n_rows * |overlap| * 1000 DIV
    |bucket range|`` on closed integer ranges — a bucket fully inside
    the window degenerates to exactly ``n_rows * 1000``, so no
    special-casing and no branch divergence between engines. The exact
    side is one scan with 8 conditional sums. Same integer-exact
    DIV-once discipline as ``stats_selectivity_estimate``."""
    o = t(spark, sf_dir, "orders")
    vals = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("val"),
        F.col("o_orderkey").alias("rid"),
    )
    hist = _hist_one_column(vals, "cents")
    mm = vals.agg(
        F.min("val").cast("long").alias("gmin"),
        F.max("val").cast("long").alias("gmax"),
    )
    probes = mm.selectExpr(
        f"explode(sequence(0L, {_RIR_WINDOWS - 1}L)) AS k", "gmin", "gmax"
    ).selectExpr(
        "k",
        f"gmin + (gmax - gmin) * k DIV {_RIR_WINDOWS} AS lo",
        f"least(gmax, gmin + (gmax - gmin) * (k + 2) DIV {_RIR_WINDOWS})"
        " AS hi",
    )
    est = (
        hist.crossJoin(F.broadcast(probes))  # K x 8 grid
        .selectExpr(
            "k", "lo", "hi",
            "CASE WHEN greatest(lo, min_val) <= least(hi, max_val) THEN "
            "  (n_rows * (least(hi, max_val) - greatest(lo, min_val) + 1)"
            "   * 1000) DIV (max_val - min_val + 1) "
            "ELSE 0 END AS contrib",
        )
        .groupBy("k", "lo", "hi")
        .agg(F.sum("contrib").cast("long").alias("est_rows_x1000"))
    )
    joined = vals.crossJoin(F.broadcast(mm))
    aggs = [
        F.sum(
            F.expr(
                f"CASE WHEN val >= gmin + (gmax - gmin) * {k} "
                f"DIV {_RIR_WINDOWS} AND val <= least(gmax, gmin + "
                f"(gmax - gmin) * ({k} + 2) DIV {_RIR_WINDOWS}) "
                "THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias(f"a_{k}")
        for k in range(_RIR_WINDOWS)
    ]
    wide = joined.agg(*aggs)
    stack_args = ", ".join(f"{k}L, a_{k}" for k in range(_RIR_WINDOWS))
    actual = wide.selectExpr(
        f"stack({_RIR_WINDOWS}, {stack_args}) AS (k, actual_rows)"
    )
    return (
        est.join(actual, "k")
        .selectExpr(
            "CAST(k AS BIGINT) AS k",
            "CAST(lo AS BIGINT) AS lo",
            "CAST(hi AS BIGINT) AS hi",
            "CAST(actual_rows AS BIGINT) AS actual_rows",
            "CAST(est_rows_x1000 AS BIGINT) AS est_rows_x1000",
            "CAST(abs(est_rows_x1000 - actual_rows * 1000) AS BIGINT)"
            " AS err_x1000",
        )
        .orderBy("k")
    )


STATS_RECORDS_IN_RANGE_SQL = f"""
WITH vals AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS val,
         o_orderkey AS rid
  FROM orders
),
mm AS (SELECT min(val) AS gmin, max(val) AS gmax FROM vals),
probes AS (
  SELECT r.k AS k,
         gmin + (gmax - gmin) * r.k // {_RIR_WINDOWS} AS lo,
         least(gmax,
               gmin + (gmax - gmin) * (r.k + 2) // {_RIR_WINDOWS}) AS hi
  FROM mm, range({_RIR_WINDOWS}) AS r(k)
),
bucketed AS (
  SELECT val,
         ((row_number() OVER (ORDER BY val, rid) - 1) * {HIST_BUCKETS})
             // count(*) OVER () AS bucket
  FROM vals
),
hist AS (
  SELECT bucket, count(*) AS n_rows,
         min(val) AS min_val, max(val) AS max_val
  FROM bucketed GROUP BY bucket
),
est AS (
  SELECT p.k, p.lo, p.hi,
         CAST(sum(CASE WHEN greatest(p.lo, h.min_val)
                            <= least(p.hi, h.max_val) THEN
                    (h.n_rows * (least(p.hi, h.max_val)
                                 - greatest(p.lo, h.min_val) + 1) * 1000)
                        // (h.max_val - h.min_val + 1)
                  ELSE 0 END) AS BIGINT) AS est_rows_x1000
  FROM hist h CROSS JOIN probes p GROUP BY p.k, p.lo, p.hi
),
act AS (
  SELECT p.k,
         CAST(sum(CASE WHEN v.val BETWEEN p.lo AND p.hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS actual_rows
  FROM vals v CROSS JOIN probes p GROUP BY p.k
)
SELECT CAST(e.k AS BIGINT) AS k,
       CAST(e.lo AS BIGINT) AS lo,
       CAST(e.hi AS BIGINT) AS hi,
       a.actual_rows,
       e.est_rows_x1000,
       CAST(abs(e.est_rows_x1000 - a.actual_rows * 1000) AS BIGINT)
         AS err_x1000
FROM est e JOIN act a ON a.k = e.k
ORDER BY e.k
"""


QUERIES["stats_records_in_range"] = stats_records_in_range
ORACLES["stats_records_in_range"] = STATS_RECORDS_IN_RANGE_SQL
