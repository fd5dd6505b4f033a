"""Round-10 operators.

Driver-proof for the round-9 relay composition plus the round-10
statistics/corpus additions. Every key carries a full DuckDB oracle;
cross-engine exactness follows the established contracts (exact
integer sufficient statistics, digit strings past int64, floor-e6
ratios of exact int64 numerators/denominators, ordered bounded folds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_cdc_table_spark.operators._util import stream_state_partitions, t
from mysql_cdc_table_spark.streaming.cdc_stream import (
    await_drained,
    run_to_completion,
)

QUERIES: dict = {}
ORACLES: dict = {}


def cdc_binlog_relay_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-proof of the FILTERING REPLICATION RELAY (round 9's
    composition, previously only pytest-covered): the full synthetic
    changelog is staged as a real binlog v4 series, then
    ``mysql_binlog_relay`` tails it with a transaction-stable
    predicate (__gtid % 2 = 0 — update pairs share a gtid, so
    transactions relay whole), re-emitting a NEW rotating series via
    the checkpointed streaming sink (availableNow). The destination is
    decoded back and aggregated per op; the oracle aggregates the
    filtered changelog CTE and never touches the wire — a relay that
    drops a transaction, tears an update pair, or duplicates a batch
    across the seam breaks the value hash. The reference can neither
    filter nor write a binlog (binlogdb.cc:283-345); this is the
    engine exceeding it as a composable replication component."""
    import hashlib
    import os
    import tempfile

    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
        mysql_binlog_relay,
    )

    register(spark)
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:relay".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"cdc_relay_{tag}")
    src, dst, ckpt = (os.path.join(base, d) for d in ("src", "dst", "ckpt"))
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    (
        synthetic_changelog(spark, sf_dir)
        .repartition(4, "__gtid")
        .write.format("mysql_binlog")
        .option("schema_ddl", ddl)
        .option("database", "tpch")
        .option("table", "orders")
        .mode("overwrite")
        .save(src)
    )
    await_drained(
        mysql_binlog_relay(
            spark,
            src,
            dst,
            ddl,
            "tpch",
            "orders",
            checkpoint=ckpt,
            predicate=F.col("__gtid") % 2 == 0,
            partitions=2,
            available_now=True,
        )
    )
    back = mysql_binlog_read(
        spark, dst, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )
    return back.groupBy("__op").agg(
        F.count("*").alias("n_rows"),
        F.sum("__gtid").alias("gtid_sum"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents_sum"
        ),
        F.count_distinct("o_orderkey").alias("n_keys"),
    )


def _relay_roundtrip_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE}
SELECT __op,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(__gtid) AS BIGINT) AS gtid_sum,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
FROM changelog
WHERE __gtid % 2 = 0
GROUP BY __op
"""


QUERIES["cdc_binlog_relay_roundtrip"] = cdc_binlog_relay_roundtrip
ORACLES["cdc_binlog_relay_roundtrip"] = _relay_roundtrip_sql()


def ts_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type — the
    batch-effect detector a pipeline runs before trusting daily
    aggregates (a crawler that only fires on weekdays skews any
    day-grained statistic downstream). Counts per (type, dow) with the
    engine-proof weekday (days-since-epoch % 7, 0 = Thursday — never
    dayofweek(), whose origin differs across engines), share in ppm
    from ONE division of exact int64s, and the exact uniformity
    deviation |7·c − total| per cell (integer — max over cells is the
    sup-norm distance from uniform scaled by 7·total). Shape: one
    map-side-combinable count to a ≤ types×7 grid; everything after is
    grid-sized."""
    e = t(spark, sf_dir, "events")
    dow = (
        F.datediff(F.date_trunc("day", F.col("ts")), F.lit("1970-01-01")) % 7
    )
    grid = e.groupBy(
        "event_type", dow.cast("int").alias("dow")
    ).agg(F.count("*").cast("long").alias("n_events"))
    tot = grid.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("total")
    )
    return (
        grid.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n_events",
            F.floor(
                F.lit(1_000_000.0)
                * F.col("n_events").cast("double")
                / F.col("total").cast("double")
            )
            .cast("long")
            .alias("share_e6"),
            F.abs(7 * F.col("n_events") - F.col("total"))
            .cast("long")
            .alias("dev7"),
        )
        .orderBy("event_type", "dow")
    )


TS_DOW_SEASONALITY_SQL = """
WITH e AS (
  SELECT event_type,
         CAST((CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01') % 7
              AS INTEGER) AS dow
  FROM events
), grid AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_events
  FROM e GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total
  FROM grid GROUP BY 1
)
SELECT g.event_type, g.dow, g.n_events,
       CAST(floor(1000000.0 * CAST(g.n_events AS DOUBLE)
            / CAST(t.total AS DOUBLE)) AS BIGINT) AS share_e6,
       CAST(abs(7 * g.n_events - t.total) AS BIGINT) AS dev7
FROM grid g JOIN tot t USING (event_type)
ORDER BY g.event_type, g.dow
"""

QUERIES["ts_dow_seasonality"] = ts_dow_seasonality
ORACLES["ts_dow_seasonality"] = TS_DOW_SEASONALITY_SQL


def text_ttr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source — type-token ratio and
    hapax share, the corpus-quality signal that separates organic text
    from template/boilerplate floods (a source whose TTR collapses is
    emitting near-duplicate spans; one whose hapax share spikes is
    emitting noise). Per source: total tokens, distinct tokens
    (types), hapax count (types seen exactly once IN that source), TTR
    and hapax share in ppm from single divisions of exact int64s.
    Shape: explode once, count the (source, token) grid map-side, then
    two bounded per-source aggregates — the grid is vocabulary-sized,
    never corpus-sized."""
    from mysql_cdc_table_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents").select(
        "source", tokens(F.lower(F.col("text"))).alias("toks")
    )
    tok = d.select("source", F.explode("toks").alias("tok"))
    grid = tok.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    return (
        grid.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.count_if(F.col("c") == 1).cast("long").alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.floor(
                F.lit(1_000_000.0)
                * F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double")
            )
            .cast("long")
            .alias("ttr_e6"),
            F.floor(
                F.lit(1_000_000.0)
                * F.col("n_hapax").cast("double")
                / F.col("n_types").cast("double")
            )
            .cast("long")
            .alias("hapax_e6"),
        )
        .orderBy("source")
    )


TEXT_TTR_PROFILE_SQL = """
WITH d AS (
  SELECT source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT source, unnest(toks) AS tok FROM d
), grid AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       CAST(floor(1000000.0 * CAST(count(*) AS DOUBLE)
            / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS ttr_e6,
       CAST(floor(1000000.0 * CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE)
            / CAST(count(*) AS DOUBLE)) AS BIGINT) AS hapax_e6
FROM grid
GROUP BY source
ORDER BY source
"""

QUERIES["text_ttr_profile"] = text_ttr_profile
ORACLES["text_ttr_profile"] = TEXT_TTR_PROFILE_SQL


EMB_COV_DIMS = 8  # leading dimensions profiled; pairs = d*(d+1)/2


def emb_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension-pair covariance sufficient statistics over the
    leading EMB_COV_DIMS embedding dimensions — the embedding-space
    health check that catches dimension collapse (a pair with |corr|
    near 1 means the encoder wastes capacity) and dead dimensions
    (zero variance) before an ANN index or whitening transform trusts
    the space. Components quantize to exact integers (floor(x·10⁴) —
    float→double cast exact, one multiply, floor), so Σq_iq_j / Σq_i /
    n are EXACT int64 sufficient statistics (|q| ≤ ~10⁴·‖x‖∞, products
    ≤ 10⁸, sums safe to ~10¹⁰ rows — past that promote to
    decimal(38,0) digit strings, the brown_forsythe contract). The
    covariance/correlation matrix is a driver-sized formula over the
    emitted grid. Shape: ZERO joins/explodes — d(d+1)/2 + d sum
    columns in ONE map-side-combinable aggregate, then a bounded
    stack to rows."""
    e = t(spark, sf_dir, "embeddings")
    q = [
        F.floor(
            F.element_at("embedding", i + 1).cast("double") * 10_000
        ).cast("long")
        for i in range(EMB_COV_DIMS)
    ]
    aggs = [F.count("*").cast("long").alias("n")]
    for i in range(EMB_COV_DIMS):
        aggs.append(F.sum(q[i]).cast("long").alias(f"s_{i}"))
    for i in range(EMB_COV_DIMS):
        for j in range(i, EMB_COV_DIMS):
            aggs.append(
                F.sum(q[i] * q[j]).cast("long").alias(f"p_{i}_{j}")
            )
    one = e.agg(*aggs)
    pairs = ", ".join(
        f"{i}, {j}, n, s_{i}, s_{j}, p_{i}_{j}"
        for i in range(EMB_COV_DIMS)
        for j in range(i, EMB_COV_DIMS)
    )
    n_pairs = EMB_COV_DIMS * (EMB_COV_DIMS + 1) // 2
    return (
        one.selectExpr(
            f"stack({n_pairs}, {pairs}) AS (dim_i, dim_j, n, s_i, s_j, sp)"
        )
        .orderBy("dim_i", "dim_j")
    )


def _emb_dim_cov_sql() -> str:
    sel = []
    for i in range(EMB_COV_DIMS):
        for j in range(i, EMB_COV_DIMS):
            sel.append(
                f"SELECT {i} AS dim_i, {j} AS dim_j,"
                " CAST(count(*) AS BIGINT) AS n,"
                f" CAST(sum(q{i}) AS BIGINT) AS s_i,"
                f" CAST(sum(q{j}) AS BIGINT) AS s_j,"
                f" CAST(sum(q{i} * q{j}) AS BIGINT) AS sp"
                " FROM q"
            )
    qcols = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 10000)"
        f" AS BIGINT) AS q{i}"
        for i in range(EMB_COV_DIMS)
    )
    body = " UNION ALL ".join(sel)
    return (
        f"WITH q AS (SELECT {qcols} FROM embeddings)\n{body}\n"
        "ORDER BY dim_i, dim_j"
    )


QUERIES["emb_dim_covariance"] = emb_dim_covariance
ORACLES["emb_dim_covariance"] = _emb_dim_cov_sql()


def _grid_prefix_prev2(grid: DataFrame, checkpointed: bool = False) -> DataFrame:
    """Two-column variant of round 8's ``_grid_prefix_prev`` (same
    range-bucketed two-level prefix-sum discipline — no unpartitioned
    window over a value grid that can approach N): strictly-below
    prefix counts for BOTH sides (``c1``/``c2``) of a two-sample grid
    in ONE bucketed pass — one quantile probe, one local window, one
    broadcast offset table carrying the pair of bucket totals.
    ``checkpointed=True`` means the caller already cut the grid's
    lineage (because OTHER branches of its query reuse the grid — the
    r09 verdict's watch item 1: one materialization, not one per
    consumer); don't checkpoint twice.

    r15 optimization (guide §1/§7.3): boundary probe moved from a
    driver-side ``approxQuantile`` action (one extra Spark job per
    build, plus the checkpoint materialization it forced) to a lazy
    in-plan ``percentile_approx`` broadcast — bucket assignment is the
    same count-of-boundaries-below-vm, and any monotone boundary set
    yields identical prefix sums."""
    from pyspark.sql import Window

    from mysql_cdc_table_spark.operators.round8 import _RANK_BUCKETS

    if not checkpointed:
        grid = grid.localCheckpoint(eager=False)
    probes = [i / _RANK_BUCKETS for i in range(1, _RANK_BUCKETS)]
    bounds = grid.agg(
        F.percentile_approx("vm", F.lit(probes)).alias("__bs")
    )
    g = (
        grid.join(F.broadcast(bounds))
        .withColumn(
            "bkt",
            F.size(F.filter("__bs", lambda b: b < F.col("vm"))).cast("int"),
        )
        .drop("__bs")
    )
    wloc = Window.partitionBy("bkt").orderBy("vm").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = g.select(
        "*",
        (F.sum("c1").over(wloc) - F.col("c1")).alias("l1"),
        (F.sum("c2").over(wloc) - F.col("c2")).alias("l2"),
    )
    btot = g.groupBy("bkt").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "bkt",
        F.coalesce(F.sum("b1").over(woff), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("b2").over(woff), F.lit(0)).alias("o2"),
    )
    return (
        local.join(F.broadcast(offs), "bkt")
        .withColumn("prev1", F.col("l1") + F.col("o1"))
        .withColumn("prev2", F.col("l2") + F.col("o2"))
        .drop("bkt", "l1", "l2", "o1", "o2")
    )


def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov between the two lexicographically
    first event types' value distributions — the distribution-drift
    gate that complements MW-U (locations) and Brown–Forsythe
    (dispersions): D = sup|F₁−F₂| detects ANY distributional change.
    Everything is exact integer arithmetic: both samples collapse to
    the distinct-milli-value grid, cumulative counts come from the
    range-bucketed two-level prefix sum (``_grid_prefix_prev2`` — no
    single-partition window at any grid cardinality), and the sup is
    max|cum₁·n₂ − cum₂·n₁| with its argmax reported as the SMALLEST
    achieving value (deterministic under ties on both engines — never
    max_by, whose tie choice is unspecified). d_e6 is one floored
    double division of exact int64s. Magnitude: cum·n ≤ n₁·n₂, int64-
    safe to ~3·10⁹ rows/side; past that promote to decimal(38,0)
    (the MW-U note). Scale shape: two map-side grid counts, one
    bucketed grid window, two bounded singleton joins.

    The (ta, tb) pick stays a driver-side ``collect()`` ON PURPOSE
    (r15 audit): inlining the pair as literals keeps
    ``event_type IN (ta, tb)`` in the parquet scan's PushedFilters —
    an in-plan broadcast ``named`` join was measured and rejected
    because the join predicate cannot push down, turning the fact scan
    into a full read at any scale."""
    e = t(spark, sf_dir, "events")
    two = e.groupBy("event_type").count().orderBy("event_type").limit(2)
    picked = [r["event_type"] for r in two.collect()]
    ta, tb = picked[0], picked[1]
    vm = F.floor(F.col("value") * 1000).cast("long")
    # r15 audit note: a spread_narrow_scan before the grid count was
    # tried and REVERTED (same ~5x exec regression as kruskal — the
    # extra exchange under the lazy grid checkpoint); see round8.py.
    grid = (
        e.filter(F.col("event_type").isin(ta, tb))
        .select(
            vm.alias("vm"),
            F.when(F.col("event_type") == ta, 1).otherwise(0).alias("isa"),
        )
        .groupBy("vm")
        .agg(
            F.count_if(F.col("isa") == 1).alias("c1"),
            F.count_if(F.col("isa") == 0).alias("c2"),
        )
        # every downstream branch (rank, totals, max, argmax) reuses the
        # grid — cut the lineage ONCE so the fact scan happens once, not
        # per branch (the r09 verdict's watch item 1)
        .localCheckpoint(eager=False)
    )
    ranked = _grid_prefix_prev2(grid, checkpointed=True)
    tot = grid.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    scored = ranked.crossJoin(F.broadcast(tot)).select(
        "vm",
        F.abs(
            (F.col("prev1") + F.col("c1")) * F.col("n2")
            - (F.col("prev2") + F.col("c2")) * F.col("n1")
        ).alias("dnum"),
        "n1",
        "n2",
    )
    mx = scored.agg(F.max("dnum").cast("long").alias("d_num"))
    at = (
        scored.join(F.broadcast(mx), F.col("dnum") == F.col("d_num"))
        .agg(F.min("vm").cast("long").alias("vm_at_max"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.lit(ta).alias("type_a"),
            F.lit(tb).alias("type_b"),
            "n1",
            "n2",
            "d_num",
            "vm_at_max",
            F.floor(
                F.lit(1_000_000.0)
                * F.col("d_num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            )
            .cast("long")
            .alias("d_e6"),
        )
    )


AGG_KS_TWO_SAMPLE_SQL = """
WITH two AS (
  SELECT event_type FROM events GROUP BY 1 ORDER BY 1 LIMIT 2
), named AS (
  SELECT min(event_type) AS ta, max(event_type) AS tb FROM two
), grid AS (
  SELECT CAST(floor(e.value * 1000) AS BIGINT) AS vm,
         CAST(count(*) FILTER (WHERE e.event_type = n.ta) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE e.event_type = n.tb) AS BIGINT) AS c2
  FROM events e CROSS JOIN named n
  WHERE e.event_type IN (n.ta, n.tb)
  GROUP BY 1
), cum AS (
  SELECT vm,
         CAST(sum(c1) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum1,
         CAST(sum(c2) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum2
  FROM grid
), tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM grid
), scored AS (
  SELECT vm, abs(cum1 * t.n2 - cum2 * t.n1) AS dnum
  FROM cum CROSS JOIN tot t
), mx AS (
  SELECT CAST(max(dnum) AS BIGINT) AS d_num FROM scored
)
SELECT n.ta AS type_a, n.tb AS type_b, t.n1, t.n2, m.d_num,
       (SELECT CAST(min(vm) AS BIGINT) FROM scored s
        WHERE s.dnum = m.d_num) AS vm_at_max,
       CAST(floor(1000000.0 * CAST(m.d_num AS DOUBLE)
            / CAST(t.n1 * t.n2 AS DOUBLE)) AS BIGINT) AS d_e6
FROM named n CROSS JOIN tot t CROSS JOIN mx m
"""

QUERIES["agg_ks_two_sample"] = agg_ks_two_sample
ORACLES["agg_ks_two_sample"] = AGG_KS_TWO_SAMPLE_SQL


def agg_kendall_tau_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b sufficient statistics over a BOUNDED joint grid —
    rank association between lineitem quantity (integral 1..50) and
    line number (1..7) without ever forming row pairs: the N² pair
    space collapses to grid-cell pairs (≤350² — broadcast self-join of
    an aggregated grid, the deliberate bounded-quadratic contract, like
    the cosine histogram's sampled pair grid). Concordant/discordant
    counts are Σ c·c′ over strictly-ordered cell pairs; tie terms are
    per-axis Σ n(n−1)/2. All products are exact integers summed as
    DECIMAL(38,0)/HUGEINT and emitted as DIGIT STRINGS (they are ~N²,
    past int64 at scale — the brown_forsythe contract); τ-b itself is
    a driver-sized formula over the five outputs."""
    li = t(spark, sf_dir, "lineitem").select(
        F.floor("l_quantity").cast("long").alias("x"),
        F.col("l_linenumber").cast("long").alias("y"),
    )
    grid = li.groupBy("x", "y").agg(F.count("*").cast("long").alias("c"))
    a, b = grid.alias("a"), grid.alias("b")
    prod = (
        F.col("a.c").cast("decimal(19,0)") * F.col("b.c").cast("decimal(19,0)")
    )
    pairs = a.join(F.broadcast(b), F.col("a.x") < F.col("b.x")).agg(
        F.sum(
            F.when(F.col("a.y") < F.col("b.y"), prod).otherwise(
                F.lit(0).cast("decimal(19,0)")
            )
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("n_conc"),
        F.sum(
            F.when(F.col("a.y") > F.col("b.y"), prod).otherwise(
                F.lit(0).cast("decimal(19,0)")
            )
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("n_disc"),
    )
    tx = (
        grid.groupBy("x")
        .agg(F.sum("c").alias("nx"))
        .agg(
            F.sum(
                F.col("nx").cast("decimal(19,0)")
                * (F.col("nx") - 1).cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("tie_x_x2")
        )
    )
    ty = (
        grid.groupBy("y")
        .agg(F.sum("c").alias("ny"))
        .agg(
            F.sum(
                F.col("ny").cast("decimal(19,0)")
                * (F.col("ny") - 1).cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("tie_y_x2")
        )
    )
    n = grid.agg(F.sum("c").cast("long").alias("n"))
    return (
        n.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select("n", "n_conc", "n_disc", "tie_x_x2", "tie_y_x2")
    )


AGG_KENDALL_TAU_GRID_SQL = """
WITH li AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
         CAST(l_linenumber AS BIGINT) AS y
  FROM lineitem
), grid AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1, 2
), pairs AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN a.y < b.y
         THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS VARCHAR) AS n_conc,
    CAST(coalesce(sum(CASE WHEN a.y > b.y
         THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS VARCHAR) AS n_disc
  FROM grid a JOIN grid b ON a.x < b.x
), tx AS (
  SELECT CAST(sum(CAST(nx AS HUGEINT) * (nx - 1)) AS VARCHAR) AS tie_x_x2
  FROM (SELECT CAST(sum(c) AS BIGINT) AS nx FROM grid GROUP BY x)
), ty AS (
  SELECT CAST(sum(CAST(ny AS HUGEINT) * (ny - 1)) AS VARCHAR) AS tie_y_x2
  FROM (SELECT CAST(sum(c) AS BIGINT) AS ny FROM grid GROUP BY y)
), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid)
SELECT tot.n, pairs.n_conc, pairs.n_disc, tx.tie_x_x2, ty.tie_y_x2
FROM tot CROSS JOIN pairs CROSS JOIN tx CROSS JOIN ty
"""

QUERIES["agg_kendall_tau_grid"] = agg_kendall_tau_grid
ORACLES["agg_kendall_tau_grid"] = AGG_KENDALL_TAU_GRID_SQL


def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality sufficient statistics over order totals (cents)
    — the concentration diagnostic for any weighted-sampling decision
    (is the corpus/revenue mass in a handful of keys?). Gini needs the
    rank-weighted value sum Σ rankᵢ·xᵢ; on the distinct-cents GRID a
    tied run contributes v·(c·prev + c(c+1)/2) with consecutive exact
    ranks, so the whole statistic is integer arithmetic on grid rows —
    ranks come from the range-bucketed two-level prefix sum
    (``_grid_prefix_prev``, round 9 — never a single-partition
    window), and the rank-weighted sum travels as DECIMAL(38,0)/
    HUGEINT digit strings (it is ~v·N², past int64 immediately).
    G = (2·S_r − (n+1)·Σx) / (n·Σx) is a driver-sized formula over
    the three outputs."""
    from mysql_cdc_table_spark.operators.round8 import _grid_prefix_prev

    o = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("vm")
    )
    grid = o.groupBy("vm").agg(F.count("*").cast("long").alias("c"))
    ranked = _grid_prefix_prev(grid, "c")
    term = F.col("c") * F.col("prev") + F.expr("(c * (c + 1)) div 2")
    return ranked.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("vm")).cast("long").alias("sum_cents"),
        F.sum(
            F.col("vm").cast("decimal(19,0)") * term.cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("rank_weighted_sum"),
    )


AGG_GINI_COEFFICIENT_SQL = """
WITH v AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS vm FROM orders
), grid AS (
  SELECT vm, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1
), ranked AS (
  SELECT vm, c,
         CAST(coalesce(sum(c) OVER (ORDER BY vm
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prev
  FROM grid
)
SELECT CAST(sum(c) AS BIGINT) AS n,
       CAST(sum(c * vm) AS BIGINT) AS sum_cents,
       CAST(sum(CAST(vm AS HUGEINT)
            * (c * prev + (c * (c + 1)) // 2)) AS VARCHAR)
         AS rank_weighted_sum
FROM ranked
"""

QUERIES["agg_gini_coefficient"] = agg_gini_coefficient
ORACLES["agg_gini_coefficient"] = AGG_GINI_COEFFICIENT_SQL


def stream_dropdup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup through the REAL Structured Streaming
    API — ``withWatermark`` + ``dropDuplicatesWithinWatermark`` on
    event_id, the first line of defense a training-data ingest runs
    against at-least-once upstreams (Kafka replays, retried batches).
    A staged feed duplicates half the sample a second time (exact
    replays); the streaming query must emit each event_id exactly
    once, proven per event type against a plain DISTINCT oracle. The
    stage is ONE file and the watermark outspans the data, so eviction
    cannot race the replay inside the run — this key proves the API
    plumbing end-to-end (state store, availableNow, memory sink);
    eviction semantics under lateness are stream_late_data_audit's
    subject. Scale: dedup state is hash-partitioned by key across
    executors; the watermark bounds state to the replay horizon."""
    import hashlib
    import os
    import tempfile
    import uuid

    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 4 < 2)
        # the parquet ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP
        # (ts only gates eviction here — no output column derives from it)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    feed = e.unionByName(e.filter(F.col("event_id") % 2 == 0))
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:dropdup".encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"stream_dropdup_{tag}")
    feed.coalesce(1).write.mode("overwrite").parquet(stage)

    mem = f"dropdup_{uuid.uuid4().hex[:12]}"
    with stream_state_partitions(spark):
        run_to_completion(
            spark.readStream.schema(e.schema)
            .parquet(stage)
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("memory")
            .queryName(mem)
        )
    return (
        spark.table(mem)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count_distinct("event_id").cast("long").alias("n_ids"),
            F.sum(F.floor(F.col("value") * 1000)).cast("long").alias(
                "value_milli_sum"
            ),
        )
        .orderBy("event_type")
    )


STREAM_DROPDUP_WATERMARK_SQL = """
WITH base AS (
  SELECT * FROM events WHERE event_id % 4 < 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         AS value_milli_sum
FROM base
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["stream_dropdup_watermark"] = stream_dropdup_watermark
ORACLES["stream_dropdup_watermark"] = STREAM_DROPDUP_WATERMARK_SQL


def agg_ab_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion analysis with Wilson score intervals — the
    experiment readout a data pipeline ships after an ingestion or
    ranking change: users split into arms by user_id parity (the
    deterministic hash-split discipline), a user CONVERTS if any of
    their events carries a strictly positive milli-value. Counts are
    exact integers; the lift and the per-arm Wilson bounds (z = 1.96)
    are computed through IDENTICALLY-SHAPED IEEE double chains on both
    engines (int64→double conversions are correctly rounded, +·×/√ are
    exactly-rounded IEEE ops — the ts_ewma_window precedent), then
    floored to e6, so the hash is deterministic without a float ever
    crossing engines raw. Shape: one per-user aggregate, one 2-row
    arm aggregate, a driver-sized formula."""
    e = t(spark, sf_dir, "events")
    users = (
        e.groupBy((F.col("user_id") % 2).cast("int").alias("arm"), "user_id")
        .agg(
            F.max(
                F.when(F.floor(F.col("value") * 1000) > 0, 1).otherwise(0)
            ).alias("conv")
        )
    )
    arms = users.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    z = F.lit(1.96)
    n = F.col("n_users").cast("double")
    p = F.col("n_conv").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = p + z * z / (F.lit(2.0) * n)
    rad = z * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n))
    return arms.select(
        "arm",
        "n_users",
        "n_conv",
        F.floor(F.lit(1_000_000.0) * p).cast("long").alias("rate_e6"),
        F.floor(F.lit(1_000_000.0) * (center - rad) / denom)
        .cast("long")
        .alias("wilson_lo_e6"),
        F.floor(F.lit(1_000_000.0) * (center + rad) / denom)
        .cast("long")
        .alias("wilson_hi_e6"),
    ).orderBy("arm")


AGG_AB_CONVERSION_WILSON_SQL = """
WITH users AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS arm, user_id,
         max(CASE WHEN CAST(floor(value * 1000) AS BIGINT) > 0
             THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_conv
  FROM users GROUP BY 1
)
SELECT arm, n_users, n_conv,
  CAST(floor(1000000.0 * (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)))
       AS BIGINT) AS rate_e6,
  CAST(floor(1000000.0
    * ((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
        + 1.96 * 1.96 / (2.0 * CAST(n_users AS DOUBLE)))
       - 1.96 * sqrt(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
            * (1.0 - CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
            / CAST(n_users AS DOUBLE)
          + 1.96 * 1.96
            / (4.0 * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
    / (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE))) AS BIGINT)
    AS wilson_lo_e6,
  CAST(floor(1000000.0
    * ((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
        + 1.96 * 1.96 / (2.0 * CAST(n_users AS DOUBLE)))
       + 1.96 * sqrt(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
            * (1.0 - CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
            / CAST(n_users AS DOUBLE)
          + 1.96 * 1.96
            / (4.0 * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
    / (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE))) AS BIGINT)
    AS wilson_hi_e6
FROM arms
ORDER BY arm
"""

QUERIES["agg_ab_conversion_wilson"] = agg_ab_conversion_wilson
ORACLES["agg_ab_conversion_wilson"] = AGG_AB_CONVERSION_WILSON_SQL


def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join — the scalable entity-resolution shape for
    short strings (product titles, names): never all-pairs; instead
    (1) collapse the corpus to DISTINCT names with multiplicities —
    bounded by the name vocabulary, not the row count; (2) self-join
    only within a cheap deterministic BLOCK (here the name's last
    token); (3) verify candidates with an exact Levenshtein distance.
    This is the same block-then-verify discipline as banded-LSH dedup,
    specialised to edit distance. Per block the readout is exact
    integers: member names, near-miss pairs (0 < dist <= 2 — dist 0 is
    an exact dup, a different operator's job), pair weight (rows_a x
    rows_b, how many ROW pairs the name pairs represent), and the
    summed distance. At 100 TB the distinct-names grid is vocab-sized
    and the pair fan-out is per-block quadratic in DISTINCT names only
    — block sizing is the contract, corpus row count never enters the
    join."""
    names = (
        t(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("block", F.element_at(F.split("name", " "), -1))
    )
    # Three consumers (both join sides + block sizes) — materialize the
    # vocab-bounded grid once; the fact table is scanned exactly once.
    names = names.localCheckpoint(eager=False)
    a = names.select(
        "block", F.col("name").alias("name_a"), F.col("cnt").alias("cnt_a")
    )
    b = names.select(
        "block", F.col("name").alias("name_b"), F.col("cnt").alias("cnt_b")
    )
    pairs = (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("dist") <= 2)
    )
    return (
        pairs.groupBy("block")
        .agg(
            F.count("*").cast("long").alias("n_near_pairs"),
            F.sum(F.col("cnt_a") * F.col("cnt_b"))
            .cast("long")
            .alias("pair_weight"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.min("dist").cast("long").alias("min_dist"),
        )
        .join(
            F.broadcast(
                names.groupBy("block").agg(
                    F.count("*").cast("long").alias("n_names"),
                    F.sum("cnt").cast("long").alias("n_rows"),
                )
            ),
            "block",
        )
        .select(
            "block",
            "n_names",
            "n_rows",
            "n_near_pairs",
            "pair_weight",
            "sum_dist",
            "min_dist",
        )
        .orderBy("block")
    )


JOIN_FUZZY_BLOCKED_SQL = """
WITH names AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt,
         list_extract(string_split(p_name, ' '),
                      len(string_split(p_name, ' '))) AS block
  FROM part GROUP BY 1
), pairs AS (
  SELECT a.block,
         CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
         a.cnt AS cnt_a, b.cnt AS cnt_b
  FROM names a JOIN names b
    ON a.block = b.block AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 2
), per_block AS (
  SELECT block,
         CAST(count(*) AS BIGINT) AS n_near_pairs,
         CAST(sum(cnt_a * cnt_b) AS BIGINT) AS pair_weight,
         CAST(sum(dist) AS BIGINT) AS sum_dist,
         CAST(min(dist) AS BIGINT) AS min_dist
  FROM pairs GROUP BY 1
), sizes AS (
  SELECT block, CAST(count(*) AS BIGINT) AS n_names,
         CAST(sum(cnt) AS BIGINT) AS n_rows
  FROM names GROUP BY 1
)
SELECT p.block, s.n_names, s.n_rows, p.n_near_pairs,
       p.pair_weight, p.sum_dist, p.min_dist
FROM per_block p JOIN sizes s ON s.block = p.block
ORDER BY p.block
"""

QUERIES["join_fuzzy_blocked"] = join_fuzzy_blocked
ORACLES["join_fuzzy_blocked"] = JOIN_FUZZY_BLOCKED_SQL


def stream_stream_join(
    spark: SparkSession, sf_dir: str, _query_out: list | None = None
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the hardest Structured
    Streaming shape the engine had not yet driver-proven: two live
    feeds (disjoint event_id classes of the same event stream) joined
    on user_id under an event-time range (follow-on events within one
    hour), through the REAL API — per-side ``withWatermark``, a
    time-range join condition (what makes join state EVICTABLE at
    scale), memory sink, availableNow. Each side is staged as TWO
    files and read with ``maxFilesPerTrigger=1``, so matches MUST pair
    across micro-batch seams (each side's second file joins the other
    side's batch-0 rows out of the state store) — a join that drops
    buffered state between batches, or double-emits on the seam,
    breaks the value hash.
    The oracle is the equivalent batch join. Scale: join state is
    hash-partitioned by key across executors and the watermark + range
    condition bound retention to the join window — the 100 TB contract
    for unbounded feeds."""
    import hashlib
    import os
    import tempfile
    import uuid

    e = (
        t(spark, sf_dir, "events")
        # parquet ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP.
        # The session tz is UTC and both sides shift identically, so
        # the range predicate is tz-invariant.
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn(
            "vm", F.floor(F.col("value") * 1000).cast("long")
        )
        .select("event_id", "user_id", "ts", "event_type", "vm")
    )
    sides = {
        "l": e.filter(F.col("event_id") % 4 == 0),
        "r": e.filter(F.col("event_id") % 4 == 1),
    }
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ssjoin".encode()
    ).hexdigest()[:12]
    stages = {}
    for side, df in sides.items():
        stage = os.path.join(
            tempfile.gettempdir(), f"stream_ssjoin_{side}_{tag}"
        )
        # two files per side -> maxFilesPerTrigger=1 forces pairing
        # across at least four micro-batches
        df.repartition(2).write.mode("overwrite").parquet(stage)
        stages[side] = stage

    def feed(side: str):
        return (
            spark.readStream.schema(sides[side].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stages[side])
            .withWatermark("ts", "3650 days")
            .alias(side)
        )

    joined = feed("l").join(
        feed("r"),
        F.expr(
            "l.user_id = r.user_id AND r.ts >= l.ts "
            "AND r.ts <= l.ts + INTERVAL 1 HOUR"
        ),
    )
    mem = f"ssjoin_{uuid.uuid4().hex[:12]}"
    with stream_state_partitions(spark):
        q = run_to_completion(
            joined.select(
                F.col("l.event_type").alias("type_a"),
                F.col("r.event_type").alias("type_b"),
                (F.col("l.vm") + F.col("r.vm")).alias("pair_milli"),
            )
            .writeStream.format("memory")
            .queryName(mem)
        )
    if _query_out is not None:
        # test hook: the cross-batch claim is asserted, not narrated —
        # tests check >= 2 data batches ran with non-empty join state
        _query_out.append(q)
    return (
        spark.table(mem)
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("pair_milli").cast("long").alias("milli_sum"),
        )
        .orderBy("type_a", "type_b")
    )


STREAM_STREAM_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events
), l AS (SELECT * FROM e WHERE event_id % 4 = 0),
   r AS (SELECT * FROM e WHERE event_id % 4 = 1)
SELECT l.event_type AS type_a, r.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(l.vm + r.vm) AS BIGINT) AS milli_sum
FROM l JOIN r ON l.user_id = r.user_id
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["stream_stream_join"] = stream_stream_join
ORACLES["stream_stream_join"] = STREAM_STREAM_JOIN_SQL


def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURN expr``)
    — the reusable-logic surface a SQL-first team actually ships:
    a scalar token-density function plus a SECOND function that CALLS
    the first (nested SQL-UDF resolution), both used inside an
    aggregate. SQL UDFs are inlined into the plan by Catalyst — unlike
    Python UDFs they stay inside whole-stage codegen, so this is the
    zero-cost UDF path at 100 TB. The oracle inlines the same
    expressions (DuckDB macros would also work; inlining keeps the
    oracle single-statement). Integer-exact throughout: counts and a
    floor-e6 ratio of exact int64s."""
    reg = t(spark, sf_dir, "documents")
    reg.createOrReplaceTempView("sql_udf_docs")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tok_density(toks BIGINT,"
        " chars BIGINT) RETURNS BIGINT RETURN"
        " CAST(floor(1000000.0 * toks / chars) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION density_bucket(toks"
        " BIGINT, chars BIGINT) RETURNS BIGINT RETURN"
        " tok_density(toks, chars) div 100000"
    )
    return spark.sql(
        """
        WITH d AS (
          SELECT source,
                 CAST(size(filter(split(text, ' '), x -> x != ''))
                      AS BIGINT) AS toks,
                 CAST(length(text) AS BIGINT) AS chars
          FROM sql_udf_docs WHERE length(text) > 0
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok_density(toks, chars)) AS BIGINT)
                 AS density_e6_sum,
               CAST(sum(density_bucket(toks, chars)) AS BIGINT)
                 AS bucket_sum
        FROM d GROUP BY source ORDER BY source
        """
    )


SQL_UDF_SCALAR_SQL = """
WITH d AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS toks,
         CAST(length(text) AS BIGINT) AS chars
  FROM documents WHERE length(text) > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(floor(1000000.0 * toks / chars) AS BIGINT))
            AS BIGINT) AS density_e6_sum,
       CAST(sum(CAST(floor(1000000.0 * toks / chars) AS BIGINT) // 100000)
            AS BIGINT) AS bucket_sum
FROM d GROUP BY source ORDER BY source
"""

QUERIES["sql_udf_scalar"] = sql_udf_scalar
ORACLES["sql_udf_scalar"] = SQL_UDF_SCALAR_SQL


def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE`` — parameterized dynamic SQL (Spark 4),
    the surface migration tooling and BI layers generate: the query
    text is a runtime string, parameters bind via USING (never string
    interpolation — the injection-safe path). The statement runs the
    priority/status rollup over orders above a bound price threshold;
    the oracle is the same SQL with the literal inlined. All-integer
    readout (cents sums)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("exec_imm_orders")
    stmt = (
        "SELECT o_orderpriority AS priority,"
        " CAST(count(*) AS BIGINT) AS n_orders,"
        " CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        "   AS cents_sum"
        " FROM exec_imm_orders WHERE o_totalprice > ?"
        " GROUP BY o_orderpriority ORDER BY priority"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :stmt USING 100000",
        args={"stmt": stmt},
    )


SQL_EXECUTE_IMMEDIATE_SQL = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM orders WHERE o_totalprice > 100000
GROUP BY o_orderpriority ORDER BY priority
"""

QUERIES["sql_execute_immediate"] = sql_execute_immediate
ORACLES["sql_execute_immediate"] = SQL_EXECUTE_IMMEDIATE_SQL


def stream_stream_outer_join(
    spark: SparkSession, sf_dir: str, _query_out: list | None = None
) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join — the semantics that
    separate a real streaming engine from a batch replay: an unmatched
    left row must be emitted WITH NULLS only once the watermark proves
    no match can still arrive (state eviction), never earlier, never
    twice. Same staged two-files-per-side feed as stream_stream_join
    (maxFilesPerTrigger=1 forces multi-batch state), 1-minute
    watermark delay so the availableNow final flush resolves
    everything below the horizon. The readout restricts to left rows
    with ts < 2024-01-28 — at least two days BELOW the final
    watermark minus the join window at every sf (per-side max ts is
    Jan 30 19:30+), so every row in the readout has deterministically
    settled matched-or-null status; the oracle is the equivalent batch
    LEFT JOIN under the same cutoff. A join that emits outer nulls
    early (phantom unmatched), late (missing rows), or double-emits on
    eviction breaks the hash. Scale: outer state is bounded by the
    watermark horizon — the eviction being TESTED here is what caps
    state at 100 TB/day feeds."""
    import hashlib
    import os
    import tempfile
    import uuid

    e = (
        t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("vm", F.floor(F.col("value") * 1000).cast("long"))
        .select("event_id", "user_id", "ts", "event_type", "vm")
    )
    sides = {
        "l": e.filter(F.col("event_id") % 4 == 0),
        "r": e.filter(F.col("event_id") % 4 == 1),
    }
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ssouter".encode()
    ).hexdigest()[:12]
    stages = {}
    for side, df in sides.items():
        stage = os.path.join(
            tempfile.gettempdir(), f"stream_ssouter_{side}_{tag}"
        )
        df.repartition(2).write.mode("overwrite").parquet(stage)
        stages[side] = stage

    def feed(side: str):
        return (
            spark.readStream.schema(sides[side].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stages[side])
            .withWatermark("ts", "1 minute")
            .alias(side)
        )

    joined = feed("l").join(
        feed("r"),
        F.expr(
            "l.user_id = r.user_id AND r.ts >= l.ts "
            "AND r.ts <= l.ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    )
    mem = f"ssouter_{uuid.uuid4().hex[:12]}"
    with stream_state_partitions(spark):
        q = run_to_completion(
            joined.select(
                F.col("l.ts").alias("lts"),
                F.col("l.event_type").alias("type_a"),
                F.col("l.vm").alias("lvm"),
                F.col("r.vm").alias("rvm"),
            )
            .writeStream.format("memory")
            .queryName(mem)
        )
    if _query_out is not None:
        _query_out.append(q)
    cutoff = F.lit("2024-01-28 00:00:00").cast("timestamp")
    return (
        spark.table(mem)
        .filter(F.col("lts") < cutoff)
        .groupBy(
            "type_a", F.col("rvm").isNull().alias("unmatched")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("lvm") + F.coalesce("rvm", F.lit(0)))
            .cast("long")
            .alias("milli_sum"),
        )
        .orderBy("type_a", "unmatched")
    )


STREAM_STREAM_OUTER_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events
), l AS (SELECT * FROM e WHERE event_id % 4 = 0),
   r AS (SELECT * FROM e WHERE event_id % 4 = 1)
SELECT l.event_type AS type_a,
       (r.vm IS NULL) AS unmatched,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l.vm + coalesce(r.vm, 0)) AS BIGINT) AS milli_sum
FROM l LEFT JOIN r ON l.user_id = r.user_id
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
WHERE l.ts < TIMESTAMP '2024-01-28 00:00:00'
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["stream_stream_outer_join"] = stream_stream_outer_join
ORACLES["stream_stream_outer_join"] = STREAM_STREAM_OUTER_JOIN_SQL


# --- round-10 LATE keys (registered after the window budget filled;
# pinned behind the standing registry to lead the round-11 window) ----


def ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the sequence-model readout behind session abandonment,
    bot detection, and synthetic-trace validation (a generator whose
    transition matrix drifts from production is caught here). Each
    user's events form a totally-ordered chain ((ts, event_id)
    tiebreak); lead() pairs adjacent types; counts roll to the
    types×types grid with row-normalized shares in ppm from one
    floored division of exact int64s. Shape: ONE lag window per user
    partition (linear, partition-parallel), then grid-sized
    aggregates — the matrix is alphabet-bounded regardless of corpus
    size."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_trans"))
    )
    # two consumers (matrix + row totals): materialize the
    # alphabet-bounded grid once — one scan, ONE window
    pairs = pairs.localCheckpoint(eager=False)
    tot = pairs.groupBy("from_type").agg(
        F.sum("n_trans").cast("long").alias("row_total")
    )
    return (
        pairs.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.col("n_trans").cast("double")
                    / F.col("row_total").cast("double")
                )
            )
            .cast("long")
            .alias("share_e6"),
        )
        .orderBy("from_type", "to_type")
    )


TS_MARKOV_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), grid AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS row_total
  FROM grid GROUP BY 1
)
SELECT g.from_type, g.to_type, g.n_trans,
       CAST(floor(1000000.0 * (CAST(g.n_trans AS DOUBLE)
            / CAST(t.row_total AS DOUBLE))) AS BIGINT) AS share_e6
FROM grid g JOIN tot t USING (from_type)
ORDER BY g.from_type, g.to_type
"""

QUERIES["ts_markov_transitions"] = ts_markov_transitions
ORACLES["ts_markov_transitions"] = TS_MARKOV_TRANSITIONS_SQL


EMB_SIL_DIM = 64


def emb_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid silhouette — the cluster-quality eval an
    embedding pipeline runs before trusting labels for IVF training,
    auto-labeling, or stratified sampling: for each vector, squared
    distance to its OWN label centroid (a) vs the nearest OTHER
    centroid (b); silhouette = (b−a)/max(a,b) per vector, averaged per
    label. A label whose mean collapses toward 0/negative is not a
    real cluster. Exactness: components quantize to floor(x·10⁴)
    int64s (the emb_dim_variance contract); centroids quantize to e6
    ints through one deterministic IEEE chain; distances are then
    PURE-INTEGER sums of squares, and only the final per-vector ratio
    touches doubles (exact int64 → double, one divide, one multiply,
    floor — identical chain both engines). Shape: one posexplode, one
    (label,dim) grid aggregate, a BROADCAST labels×dims centroid join
    (|labels| fan-out per row — alphabet-bounded), two grid
    aggregates. Never a vector-vector pair join — cost is linear in
    vectors × |labels|."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.col("label").alias("own"),
        F.posexplode("embedding").alias("dim", "comp"),
    ).select(
        "vec_id",
        "own",
        "dim",
        F.floor(F.col("comp").cast("double") * 10_000)
        .cast("long")
        .alias("qv"),
    )
    cent = (
        q.groupBy(F.col("own").alias("cand"), "dim")
        .agg(
            F.floor(
                F.lit(100.0)
                * (
                    F.sum("qv").cast("double")
                    / F.count("*").cast("double")
                )
            )
            .cast("long")
            .alias("ce")
        )
    )
    term = F.lit(100) * F.col("qv") - F.col("ce")
    d = (
        q.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "own", "cand")
        .agg(F.sum(term * term).cast("long").alias("dist"))
    )
    ab = d.groupBy("vec_id", "own").agg(
        F.sum(F.when(F.col("cand") == F.col("own"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("cand") != F.col("own"), F.col("dist"))).alias(
            "b"
        ),
    )
    mx = F.greatest("a", "b")
    sil = F.when(mx == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            F.lit(1_000_000.0)
            * (
                (F.col("b") - F.col("a")).cast("double")
                / mx.cast("double")
            )
        ).cast("long")
    )
    return (
        ab.select(F.col("own").alias("label"), sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("sil").cast("long").alias("sil_e6_sum"),
        )
        .select(
            "label",
            "n_vecs",
            "sil_e6_sum",
            F.floor(
                F.col("sil_e6_sum").cast("double")
                / F.col("n_vecs").cast("double")
            )
            .cast("long")
            .alias("mean_sil_e6"),
        )
        .orderBy("label")
    )


EMB_CENTROID_SILHOUETTE_SQL = f"""
WITH q AS (
  SELECT vec_id, label AS own, dim,
         CAST(floor(CAST(embedding[CAST(dim AS INTEGER)] AS DOUBLE)
              * 10000) AS BIGINT) AS qv
  FROM (
    SELECT vec_id, label, embedding,
           unnest(generate_series(1, {EMB_SIL_DIM})) AS dim
    FROM embeddings
  )
), cent AS (
  SELECT own AS cand, dim,
         CAST(floor(100.0 * (CAST(CAST(sum(qv) AS BIGINT) AS DOUBLE)
              / count(*))) AS BIGINT) AS ce
  FROM q GROUP BY 1, 2
), d AS (
  SELECT q.vec_id, q.own, c.cand,
         CAST(sum((100 * q.qv - c.ce) * (100 * q.qv - c.ce)) AS BIGINT)
           AS dist
  FROM q JOIN cent c ON c.dim = q.dim
  GROUP BY 1, 2, 3
), ab AS (
  SELECT vec_id, own,
         CAST(sum(CASE WHEN cand = own THEN dist END) AS BIGINT) AS a,
         CAST(min(CASE WHEN cand <> own THEN dist END) AS BIGINT) AS b
  FROM d GROUP BY 1, 2
), s AS (
  SELECT own AS label,
         CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(1000000.0
                   * (CAST(b - a AS DOUBLE)
                      / CAST(greatest(a, b) AS DOUBLE))) AS BIGINT)
         END AS sil
  FROM ab
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(sil) AS BIGINT) AS sil_e6_sum,
       CAST(floor(CAST(CAST(sum(sil) AS BIGINT) AS DOUBLE) / count(*))
            AS BIGINT) AS mean_sil_e6
FROM s GROUP BY 1 ORDER BY 1
"""

QUERIES["emb_centroid_silhouette"] = emb_centroid_silhouette
ORACLES["emb_centroid_silhouette"] = EMB_CENTROID_SILHOUETTE_SQL


def cdc_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an ENRICHED (join) view — the other
    classic IVM shape next to cdc_incremental_agg's plain aggregate: a
    per-nation order rollup (latest orders ⋈ customer, grouped by
    c_nationkey) maintained purely from SIGNED changelog deltas pushed
    THROUGH the join — Δ(L ⋈ R) = ΔL ⋈ R for a stable dim. Each
    signed image broadcast-joins to customer and folds map-side; no
    per-key window, no rescan of the accumulated view. The oracle
    recomputes the view from the fully ranked latest state joined to
    the same dim — one wrong op sign, a before-image joined with the
    wrong key, or a missed tombstone breaks the per-nation hash. The
    telescoping survives status/price-changing update chains because
    the -before/+after pair cancels inside the key's nation. Shape at
    100 TB: deltas are one map-side-combinable pass, the dim is
    broadcast, the view state is nations-sized."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    cl = synthetic_changelog(spark, sf_dir)
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    sgn = F.when(F.col("__op").isin(1, 3), F.lit(1)).otherwise(F.lit(-1))
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        cl.select("o_custkey", sgn.alias("sgn"), (sgn * cents).alias("dc"))
        .join(F.broadcast(cust), "o_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.sum("sgn").cast("long").alias("n_rows"),
            F.sum("dc").cast("long").alias("cents_sum"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy("c_nationkey")
    )


def _cdc_ivm_join_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
)
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(r.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM ranked r JOIN customer c ON c.c_custkey = r.o_custkey
WHERE r.__rn = 1 AND r.__op <> 0
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


QUERIES["cdc_ivm_join_view"] = cdc_ivm_join_view
ORACLES["cdc_ivm_join_view"] = _cdc_ivm_join_view_sql()
