"""Round-12 later-wave operators (second build session of the round).

Every key landed with full value-hash oracle + pytest + plan audit +
sf1 scale row before being listed in ``ROUND12_LATE_KEYS``:

- ``cdc_ivm_corr_view``: SECOND MOMENTS join the IVM algebra — all
  six sufficient statistics are linear in signed deltas, so variance/
  covariance/correlation of a live CDC view maintain with CONSTANT
  per-group state (no support table needed — a deleted row's moment
  contribution subtracts exactly). With round 11's linear/distinct
  cases and round 12's support-table family, the algebraic class is
  closed: any moment-expressible statistic folds in O(delta).
- ``graph_pagerank_trade`` / ``emb_pca_power_iter``: the "aggregate
  once, iterate on the grid" shape for iterative algorithms — ONE
  event-sized pass reduces the data to a bounded grid (nation-trade
  edge weights; an Arrow-batched exact integer Gram matrix), then the
  iteration (damped PageRank; power iteration) runs on the grid in
  exact scaled-integer arithmetic, bit-identical cross-engine; the
  fact data is never rescanned per step.
- ``sample_weighted_priority``: Duffield–Lund–Thorup priority
  sampling with a deterministic Knuth-hash uniform — weighted samples
  with no RNG state and idempotent retries, plus the DLT unbiased
  subset-sum estimator terms.
- ``stream_static_enrich``: the stream-STATIC join (broadcast
  dimension re-resolved per micro-batch) under a watermarked windowed
  aggregate in append mode; time-ordered chunk staging.
- ``cdc_binlog_streaming_evolution``: ALTER TABLE ADD COLUMN arriving
  MID-STREAM — real binlog v4 generations consumed through
  foreachBatch into a versioned latest-state store that widens the
  pre-ALTER plane as NULL instead of misaligning; exactly-once commit,
  delta-proportional anti/semi maintenance.
- ``stream_stream_three_way``: two CHAINED watermarked stream-stream
  joins (funnel L → M → R), state handoff between stateful operators,
  one-event-time-column projection idiom, bounded state.
- ``mm_image_resize``: real decode → nearest-neighbor resize with a
  gradient fixture and channel-weighted checksum (spatial bugs —
  bottom-up rows, BGR — are visible; constant fills can't see them).
- ``stats_table_profile``: the ANALYZE-TABLE statistics surface
  (null counts, exact NDV, min/max per column) in ONE scan — the
  reference stubs costs entirely (binlogdb.h:178-187).
- ``funnel_no_interference``: sequence pattern with NEGATION (A then
  B with no C between) via a prefix-encoded per-user error counter —
  one join, no error-probe scan; the oracle uses the naive NOT EXISTS
  form (two independent derivations of the semantics).
- ``cdc_ivm_streaming_corr``: the second-moment view stream-maintained
  — per batch one fold (the batch key's own ``_corr_moment_fold``)
  merged by plain addition into a |statuses|-row store; one code path
  batch and streaming, chop-invariant by linearity.
- ``cdc_replication_lag``: per-lane lag/watermark observability (the
  reference has no position surface at all — its scan restarts from
  event 0 every query).
- ``sort_zorder_layout``: Z-order clustering key (interleaved bit
  planes of two quantized coordinates) — the data-layout technique
  behind multi-dimensional row-group pruning; pytest proves a 2-D box
  query touches ≥4× fewer files under the z layout than a 1-D sort.
- ``emb_project_dominant``: per-label projection statistics along the
  power-iteration direction — a JVM-side ``aggregate(zip_with(...))``
  exact-integer fold; the oracle recomputes the whole
  Gram → iterate → project pipeline in SQL.
- ``join_dpp_partition_pruned``: dynamic partition pruning over a
  hive-partitioned fact — filter the dimension, join on the partition
  column, and the fact scan lists only the matching directories
  (dynamicpruning PartitionFilter, pytest-audited).
- ``corpus_split_leakage_audit``: the train/test leakage check —
  near-dup pairs straddling splits counted under the per-document
  split (leaky) and the cluster-keyed split (zero by construction,
  value-hash-proven).

Reference comparison (`/root/reference`, SURVEY.md §1): the reference
is a read-only MySQL binlog storage engine with its query surface
delegated to MySQL's executor (binlogdb.cc) — it has no IVM, no graph
or linear-algebra iteration, no sampling, no streaming, and no stats
surface; every key here exceeds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_cdc_table_spark.catalog import load_table as t
from mysql_cdc_table_spark.operators._util import stream_state_partitions
from mysql_cdc_table_spark.sources import fs as _hfs
from mysql_cdc_table_spark.streaming.cdc_stream import run_to_completion

QUERIES: dict = {}
ORACLES: dict = {}


# --- IVM second moments: maintained covariance / correlation -----------------


def _corr_moment_fold(cl: DataFrame) -> DataFrame:
    """The second-moment signed fold shared by the batch view and the
    streamed store: per status, (n, Σx, Σy, Σx², Σy², Σxy) from signed
    deltas — linear, so any batch chop of the changelog sums to the
    same state (cdc_ivm_streaming_corr merges per-batch folds by plain
    addition). Keeps groups with n == 0 (a mid-stream batch can net a
    status to zero before later batches repopulate it); the readout
    filters."""
    sgn = (
        F.when(F.col("__op").isin(1, 3), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )
    x = F.floor(F.col("o_totalprice")).cast("long")
    y = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("long")
    return (
        cl.select(
            "o_orderstatus",
            sgn.alias("sgn"),
            (sgn * x).alias("dx"),
            (sgn * y).alias("dy"),
            (sgn * x * x).alias("dxx"),
            (sgn * y * y).alias("dyy"),
            (sgn * x * y).alias("dxy"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.sum("sgn").cast("long").alias("n_live"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum("dy").cast("long").alias("sy"),
            F.sum("dxx").cast("long").alias("sxx"),
            F.sum("dyy").cast("long").alias("syy"),
            F.sum("dxy").cast("long").alias("sxy"),
        )
    )


def _corr_readout(folded: DataFrame) -> DataFrame:
    """Surviving groups + the fixed-order corr formula over the exact
    moments (round 6, FIXTURES.md continuous-output discipline)."""
    folded = folded.filter(F.col("n_live") > 0)
    nd = F.col("n_live").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = F.col("sxy").cast("double") - sxd * syd / nd
    varx = F.col("sxx").cast("double") - sxd * sxd / nd
    vary = F.col("syy").cast("double") - syd * syd / nd
    corr = F.when(
        (varx > 0) & (vary > 0),
        F.round(num / F.sqrt(varx * vary), 6) + F.lit(0.0),
    ).otherwise(F.lit(None).cast("double"))
    return folded.select(
        "o_orderstatus",
        "n_live",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        corr.alias("corr_price_date"),
    ).orderBy("o_orderstatus")


def cdc_ivm_corr_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained Pearson correlation between order price and order
    date per live order status — the IVM case the support-table family
    does NOT need: every moment (n, Σx, Σy, Σx², Σy², Σxy) is LINEAR
    in signed deltas, so constant per-group state maintains it under
    inserts, update chains, and deletes alike (a deleted row's
    contribution subtracts exactly; no second-smallest recall problem).
    x = floor(price) dollars, y = days since 1992-01-01 — both exact
    BIGINTs, so the fold telescopes integer-exactly and the six
    sufficient statistics hash cross-engine; corr is one fixed-order
    double formula over them (round 6, FIXTURES.md). Magnitudes:
    Σx² ≤ n·(6·10⁵)² — int64-safe past 10⁷ rows/group (sf10); beyond
    that promote the two square columns to decimal(38,0), the
    brown_forsythe contract. Shape at 100 TB: ONE map-side-combinable
    hash aggregate over the changelog, output = |statuses| rows; no
    window, no join, the delta path never re-sorts or rescans the
    view."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    return _corr_readout(_corr_moment_fold(synthetic_changelog(spark, sf_dir)))


def _cdc_ivm_corr_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
),
alive AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice) AS BIGINT) AS x,
         CAST(date_diff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS y
  FROM ranked WHERE __rn = 1 AND __op <> 0
),
m AS (
  SELECT o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_live,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM alive GROUP BY o_orderstatus
)
SELECT o_orderstatus, n_live, sx, sy, sxx, syy, sxy,
       CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n_live AS DOUBLE)) > 0
             AND (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n_live AS DOUBLE)) > 0
            THEN round(
              (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                 / CAST(n_live AS DOUBLE))
              / sqrt(
                (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                   / CAST(n_live AS DOUBLE))
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                     / CAST(n_live AS DOUBLE))), 6) + 0.0
            ELSE NULL END AS corr_price_date
FROM m
ORDER BY o_orderstatus
"""


QUERIES["cdc_ivm_corr_view"] = cdc_ivm_corr_view
ORACLES["cdc_ivm_corr_view"] = _cdc_ivm_corr_view_sql()


# --- iterative algorithms: aggregate once, iterate on the grid ----------------
#
# The Spark-first shape for iterative graph/linear-algebra work: the
# ONLY event-sized pass is one aggregation that reduces the fact data
# to a bounded grid (|V|² edge weights here, a d×d Gram matrix for the
# PCA key below); the iteration then runs on the grid in EXACT
# scaled-integer arithmetic — truncating integer division is identical
# in Spark and DuckDB for non-negative operands, so both engines
# produce bit-identical fixed-point values and the whole trajectory
# sits inside the value hash (no cross-engine float drift to paper
# over). Hand-scheduling the iteration over the raw events (the
# Pregel/RDD instinct) would rescan 100 TB per step; this shape scans
# it once.

_PR_SCALE = 1_000_000_000  # fixed-point: 1.0 == 1e9
_PR_ITERS = 3


def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation->nation trade graph (customer nation ->
    supplier nation, edge weight = lineitem count + 1 Laplace smoothing
    so the chain is irreducible and no out-degree is zero). The heavy
    work is ONE map-side-combinable aggregate over the 4-table join
    (lineitem⋈orders⋈customer⋈supplier); the 25×25 weight grid is then
    lineage-cut once and 3 damped iterations (d=0.85) run in exact
    fixed-point: rank starts at SCALE/N, each edge carries
    (85·w·r) DIV (100·out), each node adds the exact teleport
    15·SCALE DIV (100·N). All BIGINT — magnitudes 85·SCALE·w stay
    int64-safe while per-pair lineitem counts < ~10⁸ (sf~1000); past
    that pre-scale w DIV 10³. Output is the fixed-point rank itself —
    no float anywhere, so the full trajectory is value-hashed. Scale:
    iterations touch only grid-sized broadcasts; the fact table is
    scanned exactly once regardless of iteration count.

    r15 optimization (guide §7.3): dataflow unchanged — ONE fact
    aggregate, lineage-cut 625-row grid, broadcast-only iterations
    (plans/r15/graph_pagerank_trade_{before,after}.txt) — but built in
    TWO spark.sql calls instead of ~25 eagerly-analyzed chained
    Datasets: driver-side build 1.21s -> ~0.3s at sf0.1."""
    n_nations = 25
    # table references ride in as {df} placeholders through t() (schema
    # cached — guide §1.2): a parquet.`path` reference re-infers the
    # footer schema on every build
    w = spark.sql(
        """
WITH li AS (SELECT l_orderkey, l_suppkey FROM {tli}),
o AS (SELECT o_orderkey, o_custkey FROM {to}),
c AS (SELECT c_custkey, c_nationkey FROM {tc}),
s AS (SELECT s_suppkey, s_nationkey FROM {ts}),
eobs AS (
  SELECT /*+ BROADCAST(s) */
         CAST(c_nationkey AS BIGINT) AS src,
         CAST(s_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS cnt
  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
          JOIN c ON o.o_custkey = c.c_custkey
          JOIN s ON li.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM {tn}),
grid AS (SELECT a.node AS src, b.node AS dst
         FROM nodes a CROSS JOIN nodes b)
SELECT /*+ BROADCAST(e) */ g.src, g.dst, coalesce(e.cnt, 0) + 1 AS w
FROM grid g LEFT JOIN eobs e ON e.src = g.src AND e.dst = g.dst
""",
        tli=t(spark, sf_dir, "lineitem"),
        to=t(spark, sf_dir, "orders"),
        tc=t(spark, sf_dir, "customer"),
        ts=t(spark, sf_dir, "supplier"),
        tn=t(spark, sf_dir, "nation"),
    ).localCheckpoint(eager=False)  # cut: the fact scan runs ONCE

    teleport = (15 * _PR_SCALE) // (100 * n_nations)  # exact: 6e6
    prev = "r0"
    its = []
    for i in range(1, _PR_ITERS + 1):
        its.append(
            f"it{i} AS (\n"
            f"  SELECT /*+ BROADCAST(o), BROADCAST(p) */ w.dst AS node,\n"
            f"         CAST(sum((85 * w.w * p.r) DIV (100 * o.ow))\n"
            f"              + {teleport} AS BIGINT) AS r\n"
            "  FROM {w} w JOIN outw o ON o.src = w.src\n"
            f"         JOIN {prev} p ON p.node = w.src\n"
            f"  GROUP BY w.dst)"
        )
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return spark.sql(
        "WITH outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow "
        "FROM {w} GROUP BY src),\n"
        """nation AS (SELECT CAST(n_nationkey AS BIGINT) AS node, n_name
           FROM {tn}),
"""
        f"""r0 AS (SELECT node, CAST({_PR_SCALE // n_nations} AS BIGINT) AS r
       FROM nation),
{its_sql}
SELECT /*+ BROADCAST(nn), BROADCAST(o) */
       f.node AS n_nationkey, nn.n_name, f.r AS rank_e9,
       o.ow AS out_weight
FROM {prev} f
JOIN nation nn ON nn.node = f.node
JOIN outw o ON o.src = f.node
ORDER BY n_nationkey
""",
        w=w,
        tn=t(spark, sf_dir, "nation"),
    )


def _graph_pagerank_trade_sql() -> str:
    scale, n, iters = _PR_SCALE, 25, _PR_ITERS
    r0, tp = scale // n, (15 * scale) // (100 * n)
    prev = "r0"
    its = []
    for i in range(1, iters + 1):
        its.append(
            f"it{i} AS (\n"
            f"  SELECT w.dst AS node,\n"
            f"         CAST({tp} + sum((85 * w.w * p.r) // (100 * o.ow))\n"
            f"              AS BIGINT) AS r\n"
            f"  FROM w JOIN outw o ON o.src = w.src\n"
            f"         JOIN {prev} p ON p.node = w.src\n"
            f"  GROUP BY w.dst)"
        )
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH eobs AS (
  SELECT CAST(c_nationkey AS BIGINT) AS src,
         CAST(s_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY 1, 2
),
grid AS (
  SELECT CAST(a.n_nationkey AS BIGINT) AS src,
         CAST(b.n_nationkey AS BIGINT) AS dst
  FROM nation a CROSS JOIN nation b
),
w AS (
  SELECT g.src, g.dst, COALESCE(e.cnt, 0) + 1 AS w
  FROM grid g LEFT JOIN eobs e ON e.src = g.src AND e.dst = g.dst
),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM w GROUP BY src),
r0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS node,
         CAST({r0} AS BIGINT) AS r
  FROM nation
),
{its_sql}
SELECT f.node AS n_nationkey, nn.n_name, f.r AS rank_e9,
       o.ow AS out_weight
FROM {prev} f
JOIN nation nn ON CAST(nn.n_nationkey AS BIGINT) = f.node
JOIN outw o ON o.src = f.node
ORDER BY n_nationkey
"""


QUERIES["graph_pagerank_trade"] = graph_pagerank_trade
ORACLES["graph_pagerank_trade"] = _graph_pagerank_trade_sql()


# --- power iteration on the exact Gram grid -----------------------------------

_PCA_DIMS = 64
_PCA_Q = 1000  # component quantization: q = floor(1000 * x)
_PCA_M_CAP = 10_000_000  # adaptive rescale target for the moment matrix
_PCA_V_CAP = 1_000_000_000  # renormalization target for the iterate
_PCA_ITERS = 3


def emb_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration estimate of the embedding space's dominant
    principal direction — the linear-algebra instance of the
    aggregate-once / iterate-on-the-grid shape: ONE Arrow-batched pass
    computes the exact integer Gram matrix (per batch, numpy folds
    Qᵀ·Q over quantized components q = floor(10³·x) — int64 outer
    products — plus the column sums and count; partials combine by
    (i, j), so the shuffle carries #batches·d² rows, never the
    corpus). The centered second-moment matrix M = n·G − s·sᵀ is exact
    int64; iterations run on the d×d grid in fixed point (adaptive
    rescale M DIV max(1, max|M| DIV 10⁷), iterate renormalized to ~10⁹
    after each matvec) — truncating integer division matches
    cross-engine, so all 3 iterations are bit-identical and the
    iterate itself is value-hashed (no float anywhere). Each step
    provably increases the Rayleigh quotient (pytest); FULL
    convergence needs O(log d / log(λ₁/λ₂)) steps — data-dependent,
    and deliberately capped at 3 here because the per-step machinery,
    not the terminal eigenvector of a synthetic near-isotropic
    fixture, is the contract. Magnitudes: n·G int64-safe to ~3·10⁹
    rows at |q| ≤ 10³. Scale: the corpus pass is embarrassingly
    parallel and map-side combined; iteration cost is d²-bounded
    regardless of corpus size or iteration count."""
    import pyarrow as pa

    dims = _PCA_DIMS

    def gram_batches(batches):
        import numpy as np

        for batch in batches:
            col = batch.column(0)
            flat = np.asarray(col.flatten(), dtype=np.float64)
            # flatten() silently drops NULL lists — a null or ragged
            # embedding would shrink the Spark-side Gram/count while
            # the oracle's count(*) still sees the row; fail loudly if
            # the fixture contract (non-null, exactly `dims`-wide)
            # ever changes instead of hash-mismatching downstream
            if flat.size != batch.num_rows * dims:
                raise ValueError(
                    f"embedding column violated the non-null {dims}-dim "
                    f"contract: {batch.num_rows} rows -> {flat.size} floats"
                )
            if flat.size == 0:
                continue
            q = np.floor(flat * _PCA_Q).astype(np.int64).reshape(-1, dims)
            g = q.T @ q  # exact int64 outer-product fold
            s = q.sum(axis=0)
            ii, jj = np.meshgrid(
                np.arange(dims, dtype=np.int32),
                np.arange(dims, dtype=np.int32),
                indexing="ij",
            )
            i_out = np.concatenate(
                [ii.ravel(), np.arange(dims, dtype=np.int32), [-1]]
            )
            j_out = np.concatenate(
                [jj.ravel(), np.full(dims, -1, dtype=np.int32), [-1]]
            )
            v_out = np.concatenate(
                [g.ravel(), s, [np.int64(q.shape[0])]]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(i_out, type=pa.int32()),
                    pa.array(j_out, type=pa.int32()),
                    pa.array(v_out, type=pa.int64()),
                ],
                ["i", "j", "val"],
            )

    e = t(spark, sf_dir, "embeddings").select("embedding")
    stats = (
        e.mapInArrow(gram_batches, "i int, j int, val long")
        .groupBy("i", "j")
        .agg(F.sum("val").cast("long").alias("val"))
        .localCheckpoint(eager=False)  # corpus pass runs ONCE
    )
    # r15 optimization (guide §7.3): the grid math below is unchanged —
    # same centered-moment construction, same adaptive rescale, same
    # lineage-cut ms grid and fixed-point iterations
    # (plans/r15/emb_pca_power_iter_{before,after}.txt) — but built in
    # TWO spark.sql calls instead of ~20 eagerly-analyzed chained
    # Datasets (driver-side build 0.86s -> ~0.45s at sf0.1).
    ms = spark.sql(
        """
WITH g AS (SELECT i, j, val AS g FROM {stats} WHERE i >= 0 AND j >= 0),
s AS (SELECT i AS k, val AS s FROM {stats} WHERE i >= 0 AND j = -1),
n AS (SELECT val AS n FROM {stats} WHERE i = -1),
m AS (
  SELECT /*+ BROADCAST(si), BROADCAST(sj), BROADCAST(n) */
         g.i, g.j, n.n * g.g - si.s * sj.s AS m
  FROM g JOIN s si ON si.k = g.i
         JOIN s sj ON sj.k = g.j
         CROSS JOIN n
),
"""
        f"dv AS (SELECT greatest(CAST(1 AS BIGINT),\n"
        f"               max(abs(m)) DIV {_PCA_M_CAP}) AS dv FROM m)\n"
        "SELECT /*+ BROADCAST(d) */ i, j, m DIV dv AS ms\n"
        "FROM m CROSS JOIN dv d",
        stats=stats,
    ).localCheckpoint(eager=False)  # grid reused by every iteration

    prev = "v0"
    its = []
    for k in range(1, _PCA_ITERS + 1):
        its.append(
            f"u{k} AS (\n"
            f"  SELECT /*+ BROADCAST(p) */ ms.i,\n"
            f"         CAST(sum(ms.ms * p.v) AS BIGINT) AS u\n"
            "  FROM {ms} ms JOIN " + f"{prev} p ON p.j = ms.j\n"
            f"  GROUP BY ms.i),\n"
            f"mx{k} AS (SELECT greatest(CAST(1 AS BIGINT),\n"
            f"               max(abs(u)) DIV {_PCA_V_CAP}) AS mx FROM u{k}),\n"
            f"v{k} AS (SELECT /*+ BROADCAST(m) */ u{k}.i AS j,\n"
            f"                u DIV mx AS v\n"
            f"         FROM u{k} CROSS JOIN mx{k} m)"
        )
        prev = f"v{k}"
    its_sql = ",\n".join(its)
    return spark.sql(
        f"""
WITH v0 AS (SELECT CAST(id AS INT) AS j, CAST(1000000 AS BIGINT) AS v
            FROM range({dims})),
{its_sql}
SELECT j AS dim, v AS v_fp FROM {prev} ORDER BY dim
""",
        ms=ms,
    )


def _pca_cte_body() -> tuple[str, str]:
    """(WITH-body, final-iterate-name) shared by the power-iteration
    oracle and the projection oracle."""
    dims, qs = _PCA_DIMS, _PCA_Q
    prev = "v0"
    its = []
    for k in range(1, _PCA_ITERS + 1):
        its.append(
            f"u{k} AS (\n"
            f"  SELECT ms.i, CAST(sum(ms.ms * p.v) AS BIGINT) AS u\n"
            f"  FROM ms JOIN {prev} p ON p.j = ms.j GROUP BY ms.i),\n"
            f"mx{k} AS (SELECT GREATEST(1, CAST(max(abs(u)) AS BIGINT)\n"
            f"               // {_PCA_V_CAP}) AS mx FROM u{k}),\n"
            f"v{k} AS (SELECT u{k}.i AS j, CAST(u // mx AS BIGINT) AS v\n"
            f"         FROM u{k} CROSS JOIN mx{k})"
        )
        prev = f"v{k}"
    its_sql = ",\n".join(its)
    body = f"""qe AS (
  SELECT vec_id, CAST(d.i AS INTEGER) AS i,
         CAST(floor(CAST(embedding[d.i + 1] AS DOUBLE) * {qs}) AS BIGINT)
           AS q
  FROM embeddings, range({dims}) d(i)
),
g AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
  FROM qe a JOIN qe b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
sv AS (SELECT i AS k, CAST(sum(q) AS BIGINT) AS s FROM qe GROUP BY i),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
m AS (
  SELECT g.i, g.j,
         CAST(nn.n * g.g - si.s * sj.s AS BIGINT) AS m
  FROM g JOIN sv si ON si.k = g.i JOIN sv sj ON sj.k = g.j
  CROSS JOIN nn
),
dv AS (SELECT GREATEST(1, CAST(max(abs(m)) AS BIGINT)
             // {_PCA_M_CAP}) AS dv FROM m),
ms AS (SELECT i, j, CAST(m // dv AS BIGINT) AS ms
       FROM m CROSS JOIN dv),
v0 AS (SELECT CAST(d.i AS INTEGER) AS j, CAST(1000000 AS BIGINT) AS v
       FROM range({dims}) d(i)),
{its_sql}"""
    return body, prev


def _emb_pca_power_iter_sql() -> str:
    body, prev = _pca_cte_body()
    return f"""
WITH {body}
SELECT j AS dim, v AS v_fp FROM {prev} ORDER BY dim
"""


QUERIES["emb_pca_power_iter"] = emb_pca_power_iter
ORACLES["emb_pca_power_iter"] = _emb_pca_power_iter_sql()


# --- weighted priority sampling ------------------------------------------------


def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PRIORITY SAMPLING (Duffield–Lund–Thorup) per source:
    each document draws priority w/u with weight w = n_chars and a
    DETERMINISTIC uniform u = (knuth(doc_id)+1)/2³² — no RNG state, no
    seed coordination, retries idempotent, any worker reproduces the
    sample (the property Bernoulli/reservoir sampling loses on task
    retry; same rationale as corpus_hash_sample, round5.py's Knuth
    hash reused). The top-5 priorities per source are the sample; the
    6th is the threshold τ, and per-row max(w, τ) is the DLT
    unbiased subset-sum estimator term — the property that makes a
    5-document sample answer "how many chars does this source hold"
    without a full scan. All comparisons are on identical IEEE doubles
    (w·2³² is exact below 2⁵³, one division), ties break by doc_id,
    and est_term_e6 floors per-row — no cross-row float sums. Scale:
    one scan + one top-k window per source; Catalyst's WindowGroupLimit
    caps the exchange at 6 rows per input partition, so the shuffle
    never carries the corpus."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    u = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) + F.lit(1)
    p = (F.col("n_chars") * F.lit(4294967296)).cast("double") / u.cast(
        "double"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("p").desc(), F.col("doc_id").asc()
    )
    ranked = (
        d.select("source", "doc_id", "n_chars", p.alias("p"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 6)
    )
    tau = ranked.groupBy("source").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == 6, F.col("p"))), F.lit(0.0)
        ).alias("tau")
    )
    return (
        ranked.filter(F.col("rk") <= 5)
        .join(F.broadcast(tau), "source")
        .select(
            "source",
            "rk",
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.floor(
                F.greatest(F.col("n_chars").cast("double"), F.col("tau"))
                * F.lit(1_000_000)
            )
            .cast("long")
            .alias("est_term_e6"),
        )
        .orderBy("source", "rk")
    )


SAMPLE_WEIGHTED_PRIORITY_SQL = """
WITH pri AS (
  SELECT source, doc_id, n_chars,
         CAST(n_chars * 4294967296 AS DOUBLE)
           / CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE) AS p
  FROM documents
),
rk AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY source ORDER BY p DESC, doc_id ASC) AS INTEGER) AS rk
  FROM pri
),
kept AS (SELECT * FROM rk WHERE rk <= 6),
tau AS (
  SELECT source, COALESCE(max(CASE WHEN rk = 6 THEN p END), 0.0) AS tau
  FROM kept GROUP BY source
)
SELECT k.source, k.rk, k.doc_id, CAST(k.n_chars AS BIGINT) AS weight,
       CAST(floor(greatest(CAST(k.n_chars AS DOUBLE), t.tau) * 1000000)
            AS BIGINT) AS est_term_e6
FROM kept k JOIN tau t USING (source)
WHERE k.rk <= 5
ORDER BY source, rk
"""

QUERIES["sample_weighted_priority"] = sample_weighted_priority
ORACLES["sample_weighted_priority"] = SAMPLE_WEIGHTED_PRIORITY_SQL


# --- stream-static join: streaming enrichment against a dimension -------------


def stream_static_enrich(
    spark: SparkSession, sf_dir: str, _query_out: list | None = None
) -> DataFrame:
    """Stream-STATIC join — the remaining streaming join mode next to
    the stream-stream trio: an unbounded event stream enriched against
    a bounded dimension (nation, keyed user_id % 25), then a
    watermarked daily windowed aggregate in APPEND mode. The static
    side is re-resolved per micro-batch and broadcast (no state, no
    watermark needed on it — unlike a stream-stream join, dimension
    rows are never evicted); only the windowed aggregate carries
    state, bounded by the watermark. The staged 4-file feed with
    maxFilesPerTrigger=1 forces the join + aggregate to run across
    multiple micro-batches, so append-mode emission (a window emits
    exactly once, when the watermark passes its end) is what the value
    hash locks; the readout keeps windows strictly below 2024-01-29 —
    ≥1 day under the final watermark at every sf. Aggregates are exact
    (count + milli-value sum as BIGINT). Scale: stream-side shuffle is
    (days × nations)-sized after map-side combine; the dimension is a
    broadcast — the one-big-one-small join shape at 100 TB/day."""
    import hashlib
    import os
    import tempfile
    import uuid

    from mysql_cdc_table_spark.operators.round12 import stage_ordered_chunks

    e = (
        t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "ts",
            F.unix_micros(F.col("ts")).alias("tsl"),
            (F.col("user_id") % 25).cast("long").alias("nkey"),
            F.floor(F.col("value") * 1000).cast("long").alias("vm"),
        )
    )
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ssenrich".encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"stream_ssenrich_{tag}")
    # time-ordered chunks: a real feed arrives in event-time order up
    # to the watermark slack; an arbitrary file chop would make the
    # first batch's watermark mark 3/4 of the stream late
    stage_ordered_chunks(spark, e, "tsl", 4, stage)

    dim = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("nkey"), "n_name"
        )
    )
    feed = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", "1 minute")
    )
    agg = (
        feed.join(dim, "nkey")  # static side: re-read per batch, broadcast
        .groupBy(F.window("ts", "1 day").alias("w"), "n_name")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("vm").cast("long").alias("sum_vm"),
        )
    )
    mem = f"ssenrich_{uuid.uuid4().hex[:12]}"
    with stream_state_partitions(spark):
        q = run_to_completion(
            agg.select(
                F.col("w.start").alias("win_start"), "n_name", "n_events",
                "sum_vm",
            )
            .writeStream.format("memory")
            .queryName(mem)
            .outputMode("append")
        )
    if _query_out is not None:
        _query_out.append(q)
    cutoff = F.lit("2024-01-29 00:00:00").cast("timestamp")
    return (
        spark.table(mem)
        .filter(F.col("win_start") < cutoff)
        .orderBy("win_start", "n_name")
    )


STREAM_STATIC_ENRICH_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start, n_name,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_vm
FROM events
JOIN nation ON CAST(n_nationkey AS BIGINT) = user_id % 25
WHERE date_trunc('day', ts) < TIMESTAMP '2024-01-29 00:00:00'
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["stream_static_enrich"] = stream_static_enrich
ORACLES["stream_static_enrich"] = STREAM_STATIC_ENRICH_SQL


# --- streaming schema evolution: ALTER TABLE arrives mid-stream ----------------

_EVO_STORE_SCHEMA = (
    "id long, price decimal(12,2), status string, "
    "__op int, __gtid long, __event_seq long, __image_seq int"
)


def _evo_targets():
    from pyspark.sql import types as T

    old = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
        ]
    )
    new = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField(
                "status",
                T.StringType(),
                metadata={"mysql_type": "enum", "values": ["F", "O", "P"]},
            ),
        ]
    )
    return old, new


def evolution_apply_batch(
    spark: SparkSession, batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    """One micro-batch of latest-state maintenance under schema
    evolution: the store is keyed by id and delta-proportional —
    untouched keys carry by anti join, touched keys re-fold their
    stored row (a pseudo-event ordered by its own __gtid/seqs) against
    the batch, keeping the (__gtid, __event_seq, __image_seq)-max
    image per key (tombstones kept so replays and later images order
    correctly; dropped at readout). Exactly-once via the shared
    versioned commit — a replayed batch finds its version present."""
    from mysql_cdc_table_spark.operators.round12 import (
        _commit_version,
        _ivm_versions,
    )

    if _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
        return
    vs = _ivm_versions(spark, state_dir)
    if vs:
        store = spark.read.schema(_EVO_STORE_SCHEMA).parquet(
            f"{state_dir}/v{vs[-1]}/D"
        )
    else:
        store = spark.createDataFrame([], _EVO_STORE_SCHEMA)
    cols = [
        "id", "price", "status", "__op", "__gtid", "__event_seq",
        "__image_seq",
    ]
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
    _commit_version(
        spark, state_dir, batch_id, {"D": carried.unionByName(folded)}, 2
    )


def cdc_binlog_streaming_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE ADD COLUMN arriving MID-STREAM, maintained across
    micro-batches: a 4-file binlog feed — files 1-2 are pre-ALTER
    inserts framed with the 2-column TABLE_MAP generation, file 3 the
    post-ALTER updates (3-column generation; before-images carry NULL
    status, exactly what a widened row that predates the ALTER looks
    like on the wire), file 4 the post-ALTER deletes — consumed with
    maxFilesPerTrigger=1 through foreachBatch into a versioned
    latest-state store that is WIDE FROM THE START (decode with the
    latest schema; the batch evolution key proves generation
    alignment, this key proves the maintained STORE survives the
    transition: by the time the ALTER chunk arrives, the store already
    holds two batches of pre-ALTER state that must widen as NULL, not
    misalign). Readout groups the final version's alive rows by
    status-nullness; the oracle derives the same numbers from the
    fixture arithmetic in pure SQL. A store that dropped the old
    generation, double-applied a replay, or mis-ordered an update pair
    against a stored row moves rows between the NULL/non-NULL planes
    and breaks the hash. Scale: per batch cost ∝ batch + touched keys
    (anti/semi split); encode (``_encode_files``) and decode (the
    columnar kernel, ``_decode_files``) run per partition."""
    import hashlib
    import os
    import tempfile
    from decimal import Decimal as _D

    import pandas as pd

    from mysql_cdc_table_spark.operators.round12 import (
        _ivm_versions,
        stage_ordered_chunks,
    )
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )

    old_target, target = _evo_targets()
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.expr(
            "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
            " as decimal(12,2))"
        ).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    def build(chunk: int):
        def run(pdf: pd.DataFrame) -> bytes:
            txns = []
            for r in pdf.itertuples(index=False):
                rid = int(r.id)
                if chunk in (0, 1):  # pre-ALTER inserts
                    txns.append(
                        {
                            "gno": rid * 10,
                            "op": "w",
                            "rows": [{"id": rid, "price": r.price}],
                        }
                    )
                elif chunk == 2:  # post-ALTER updates (id%3==0)
                    before = {
                        "id": rid, "price": r.price, "status": None,
                    }
                    after = {
                        "id": rid,
                        "price": r.price + _D(1),
                        "status": r.status,
                    }
                    txns.append(
                        {
                            "gno": rid * 10 + 5,
                            "op": "u",
                            "rows": [(before, after)],
                        }
                    )
                else:  # post-ALTER deletes (id%7==0)
                    last = (
                        {
                            "id": rid,
                            "price": r.price + _D(1),
                            "status": r.status,
                        }
                        if rid % 3 == 0
                        else {
                            "id": rid, "price": r.price, "status": None,
                        }
                    )
                    txns.append(
                        {"gno": rid * 10 + 7, "op": "d", "rows": [last]}
                    )
            schema = old_target if chunk in (0, 1) else target
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
        b = _encode_files(part.coalesce(1), build(i)).withColumn(
            "chunk", F.lit(i)
        )
        blobs = b if blobs is None else blobs.unionByName(b)

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:binlogevo".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"binlog_evo_{tag}")
    feed_dir, state_dir, ckpt = (
        f"{root}/feed", f"{root}/state", f"{root}/ckpt",
    )
    stage_ordered_chunks(
        spark, blobs, "chunk", 4, feed_dir, bounds=[0, 1, 2]
    )

    stream = (
        spark.readStream.schema(blobs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        evolution_apply_batch(
            spark,
            _decode_files(batch_df, target, "tpch", "orders"),
            state_dir,
            batch_id,
        )

    run_to_completion(
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .queryName("cdc_binlog_evo_stream")
    )
    vs = _ivm_versions(spark, state_dir)
    final = spark.read.schema(_EVO_STORE_SCHEMA).parquet(
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
            F.sum("__gtid").cast("long").alias("gtid_sum"),
        )
        .orderBy("post_alter")
    )


# Fixture arithmetic: alive keys are id%7!=0; id%3==0 keys carry the
# update's +100 cents, a status, and gtid id*10+5; everyone else keeps
# the insert image (NULL status, gtid id*10).
CDC_BINLOG_STREAMING_EVOLUTION_SQL = """
WITH alive AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 3 = 0
              THEN CAST(o_orderkey % 100000 AS BIGINT) + 100
              ELSE CAST(o_orderkey % 100000 AS BIGINT) END AS cents,
         (o_orderkey % 3 = 0) AS post_alter,
         CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey * 10 + 5
              ELSE o_orderkey * 10 END AS gtid
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT post_alter, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(sum(gtid) AS BIGINT) AS gtid_sum
FROM alive GROUP BY 1 ORDER BY 1
"""

QUERIES["cdc_binlog_streaming_evolution"] = cdc_binlog_streaming_evolution
ORACLES["cdc_binlog_streaming_evolution"] = (
    CDC_BINLOG_STREAMING_EVOLUTION_SQL
)


# --- chained stream-stream join: three live feeds ------------------------------


def stream_stream_three_way(
    spark: SparkSession, sf_dir: str, _query_out: list | None = None
) -> DataFrame:
    """THREE watermarked live feeds chained through two stream-stream
    inner joins — the multi-stateful-operator pipeline (funnel shape:
    an L event followed by an M within 6h followed by an R within 6h
    of the M) that exercises state handoff BETWEEN stateful operators:
    the first join's output is itself an unbounded stream the second
    join must buffer and evict by the composed horizon (r.ts ≤ l.ts +
    12h). All three feeds stage as 4 TIME-ordered chunks consumed with
    maxFilesPerTrigger=1 — each batch advances all three sides
    together, so matches must pair across batch seams out of BOTH
    state stores under a realistic 1-minute watermark (the r10
    inner-join key documents its unbounded-watermark variant; this key
    is the bounded-state one). Readout keeps triples with every leg
    below 2024-01-28 — ≥2 days under the final watermark minus the
    composed 12h horizon, so the set is settled at every sf; the
    oracle is the equivalent batch 3-way join under the same cutoff.
    Scale: both joins' state is watermark+range bounded and
    hash-partitioned by user — the chained-funnel contract on
    unbounded feeds."""
    import hashlib
    import os
    import tempfile
    import uuid

    from mysql_cdc_table_spark.operators.round12 import stage_ordered_chunks

    e = (
        t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("tsl", F.unix_micros(F.col("ts")))
        .withColumn("vm", F.floor(F.col("value") * 1000).cast("long"))
        .select("event_id", "user_id", "ts", "tsl", "event_type", "vm")
    )
    # shared chunk bounds: all three feeds advance through the same
    # event-time ranges, like partitions of one topic
    bounds = e.stat.approxQuantile("tsl", [0.25, 0.5, 0.75], 0.0)
    sides = {
        "l": e.filter(F.col("event_id") % 4 == 0),
        "m": e.filter(F.col("event_id") % 4 == 1),
        "r": e.filter(F.col("event_id") % 4 == 2),
    }
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ss3way".encode()
    ).hexdigest()[:12]
    stages = {}
    for side, df in sides.items():
        stage = os.path.join(
            tempfile.gettempdir(), f"stream_ss3way_{side}_{tag}"
        )
        stage_ordered_chunks(spark, df, "tsl", 4, stage, bounds=list(bounds))
        stages[side] = stage

    def feed(side: str):
        return (
            spark.readStream.schema(sides[side].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stages[side])
            .withWatermark("ts", "1 minute")
            .alias(side)
        )

    pair = (
        feed("l")
        .join(
            feed("m"),
            F.expr(
                "l.user_id = m.user_id AND m.ts >= l.ts "
                "AND m.ts <= l.ts + INTERVAL 6 HOUR"
            ),
        )
        # a stream may carry at most ONE event-time column into the
        # next stateful operator: demote l.ts to plain micros; the
        # surviving m.ts keeps its watermark tag through the rename
        .select(
            F.col("m.user_id").alias("user_id"),
            F.col("m.ts").alias("mts"),
            F.unix_micros(F.col("l.ts")).alias("ltsl"),
            F.col("l.event_type").alias("type_a"),
            (F.col("l.vm") + F.col("m.vm")).alias("lm_vm"),
        )
        .alias("p")
    )
    triple = pair.join(
        feed("r"),
        F.expr(
            "p.user_id = r.user_id AND r.ts >= p.mts "
            "AND r.ts <= p.mts + INTERVAL 6 HOUR"
        ),
    )
    mem = f"ss3way_{uuid.uuid4().hex[:12]}"
    # fixture-sized state partitioning: two chained stateful joins at
    # 32 partitions pay ~8x the checkpoint churn the data needs
    # (measured 48s -> 12s at sf0.01; see stream_state_partitions)
    with stream_state_partitions(spark):
        q = run_to_completion(
            triple.select(
                F.timestamp_micros(F.col("p.ltsl")).alias("lts"),
                F.col("p.mts").alias("mts"),
                F.col("r.ts").alias("rts"),
                F.col("p.type_a").alias("type_a"),
                F.col("r.event_type").alias("type_c"),
                (F.col("p.lm_vm") + F.col("r.vm")).alias("tri_vm"),
            )
            .writeStream.format("memory")
            .queryName(mem)
        )
    if _query_out is not None:
        _query_out.append(q)
    cutoff = F.lit("2024-01-28 00:00:00").cast("timestamp")
    return (
        spark.table(mem)
        .filter(
            (F.col("lts") < cutoff)
            & (F.col("mts") < cutoff)
            & (F.col("rts") < cutoff)
        )
        .groupBy("type_a", "type_c")
        .agg(
            F.count("*").cast("long").alias("n_funnels"),
            F.sum("tri_vm").cast("long").alias("milli_sum"),
        )
        .orderBy("type_a", "type_c")
    )


STREAM_STREAM_THREE_WAY_SQL = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events
), l AS (SELECT * FROM e WHERE event_id % 4 = 0),
   m AS (SELECT * FROM e WHERE event_id % 4 = 1),
   r AS (SELECT * FROM e WHERE event_id % 4 = 2)
SELECT l.event_type AS type_a, r.event_type AS type_c,
       CAST(count(*) AS BIGINT) AS n_funnels,
       CAST(sum(l.vm + m.vm + r.vm) AS BIGINT) AS milli_sum
FROM l
JOIN m ON l.user_id = m.user_id AND m.ts >= l.ts
      AND m.ts <= l.ts + INTERVAL 6 HOUR
JOIN r ON m.user_id = r.user_id AND r.ts >= m.ts
      AND r.ts <= m.ts + INTERVAL 6 HOUR
WHERE l.ts < TIMESTAMP '2024-01-28 00:00:00'
  AND m.ts < TIMESTAMP '2024-01-28 00:00:00'
  AND r.ts < TIMESTAMP '2024-01-28 00:00:00'
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["stream_stream_three_way"] = stream_stream_three_way
ORACLES["stream_stream_three_way"] = STREAM_STREAM_THREE_WAY_SQL


# --- multimodal: decode -> nearest-neighbor resize ------------------------------


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → nearest-neighbor RESIZE — the preprocessing step
    every vision pipeline runs before feature extraction, end-to-end
    inside the value hash: each document synthesizes a valid image
    (even doc_ids netpbm P6, odd 24-bit BMP — round4's real encoders)
    whose pixel (x, y, c) is the GRADIENT (3x + 5y + 7c + doc_id) %
    256, so the 4×4 nearest-neighbor resample (source index
    (i·dim) DIV 4 — the same truncating rule in numpy and SQL) picks
    KNOWN pixels and the resized checksum is integer-exact: a decoder
    that flipped BMP's bottom-up rows or BGR order, or a resampler
    off-by-one on the index grid, moves the sum. Constant fills (the
    decode key) can't see any of that — spatial bugs need spatial
    content. Both stages are Arrow-batched mapInPandas over binary
    payloads — the exact shape a 100 TB image corpus needs (opaque
    binary column + per-batch numpy; swap the synthesizer for a
    parquet scan and nothing else changes)."""
    from typing import Iterator

    import pandas as pd

    from mysql_cdc_table_spark.functions.multimodal import (
        decode_image_pixels,
        encode_bmp,
        encode_ppm,
    )
    from pyspark.sql import types as T

    gen_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 60 + 5, did % 44 + 5
                xs = np.arange(w, dtype=np.int64)[None, :, None]
                ys = np.arange(h, dtype=np.int64)[:, None, None]
                cs = np.arange(3, dtype=np.int64)[None, None, :]
                px = ((3 * xs + 5 * ys + 7 * cs + did) % 256).astype(
                    np.uint8
                )
                ids.append(did)
                payloads.append(
                    encode_ppm(w, h, px) if did % 2 == 0 else encode_bmp(w, h, px)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("codec", T.StringType()),
            T.StructField("src_w", T.IntegerType()),
            T.StructField("src_h", T.IntegerType()),
            T.StructField("rs_sum", T.LongType()),
        ]
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "codec", "src_w", "src_h", "rs_sum")}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                codec, px = decode_image_pixels(bytes(payload))
                h, w = px.shape[0], px.shape[1]
                ix = (np.arange(4, dtype=np.int64) * w) // 4
                iy = (np.arange(4, dtype=np.int64) * h) // 4
                rs = px[np.ix_(iy, ix)].astype(np.int64)
                # channel-WEIGHTED checksum: a plain sum is symmetric
                # under channel permutation and cannot see a BGR swap
                wsum = int((rs * np.array([1, 2, 3], dtype=np.int64)).sum())
                rows["doc_id"].append(int(did))
                rows["codec"].append(codec)
                rows["src_w"].append(w)
                rows["src_h"].append(h)
                rows["rs_sum"].append(wsum)
            yield pd.DataFrame(rows)

    d = t(spark, sf_dir, "documents").select("doc_id")
    payloads = d.mapInPandas(gen, schema=gen_schema)
    return payloads.mapInPandas(resize, schema=out_schema).orderBy("doc_id")


MM_IMAGE_RESIZE_SQL = """
WITH g AS (
  SELECT doc_id, doc_id % 60 + 5 AS w, doc_id % 44 + 5 AS h
  FROM documents
),
cells AS (
  SELECT doc_id, w, h,
         (xo.i * w) // 4 AS sx, (yo.i * h) // 4 AS sy
  FROM g, range(4) xo(i), range(4) yo(i)
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS codec,
       CAST(max(w) AS INTEGER) AS src_w,
       CAST(max(h) AS INTEGER) AS src_h,
       CAST(sum((3 * sx + 5 * sy + doc_id) % 256
              + 2 * ((3 * sx + 5 * sy + 7 + doc_id) % 256)
              + 3 * ((3 * sx + 5 * sy + 14 + doc_id) % 256)) AS BIGINT)
         AS rs_sum
FROM cells
GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES["mm_image_resize"] = mm_image_resize
ORACLES["mm_image_resize"] = MM_IMAGE_RESIZE_SQL


# --- table statistics profile (ANALYZE TABLE surface) ---------------------------


def stats_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE statistics in one pass — the optimizer-statistics
    surface the reference stubs out entirely (its handler returns
    constant cost estimates, reference binlogdb.h:178-187, so MySQL's
    planner flies blind over it; SURVEY §3.2): per column of orders —
    null count, exact NDV, lexicographic/numeric min and max (as
    strings, the catalog shape), plus an 8-bin equi-WIDTH histogram of
    o_totalprice packed as a fixed-grid count column set. Everything
    is ONE map-side-combinable aggregate over one scan (count_distinct
    partials ride the same shuffle); the per-column output unpivots
    from the single aggregate row via a bounded stack. At 100 TB this
    is the stats-collection pass a CBO or a data-quality monitor runs
    nightly; NDV would swap to HLL (approx_count_distinct) past memory
    budgets — the exact tier is the oracle-checkable one."""
    o = t(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn_{c}"),
            F.countDistinct(c).cast("long").alias(f"nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("string")).alias(f"mx_{c}"),
        ]
    one = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return (
        one.selectExpr(
            "n_rows",
            f"stack({len(cols)}, {stack})"
            " AS (column_name, n_nulls, ndv, min_str, max_str)",
        )
        .select("column_name", "n_rows", "n_nulls", "ndv", "min_str", "max_str")
        .orderBy("column_name")
    )


STATS_TABLE_PROFILE_SQL = """
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o_orderkey,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_o_orderkey,
         min(CAST(o_orderkey AS VARCHAR)) AS mn_o_orderkey,
         max(CAST(o_orderkey AS VARCHAR)) AS mx_o_orderkey,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o_custkey,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_o_custkey,
         min(CAST(o_custkey AS VARCHAR)) AS mn_o_custkey,
         max(CAST(o_custkey AS VARCHAR)) AS mx_o_custkey,
         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o_orderstatus,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_o_orderstatus,
         min(CAST(o_orderstatus AS VARCHAR)) AS mn_o_orderstatus,
         max(CAST(o_orderstatus AS VARCHAR)) AS mx_o_orderstatus,
         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o_totalprice,
         CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd_o_totalprice,
         min(CAST(o_totalprice AS VARCHAR)) AS mn_o_totalprice,
         max(CAST(o_totalprice AS VARCHAR)) AS mx_o_totalprice,
         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o_orderdate,
         CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd_o_orderdate,
         min(CAST(o_orderdate AS VARCHAR)) AS mn_o_orderdate,
         max(CAST(o_orderdate AS VARCHAR)) AS mx_o_orderdate,
         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o_orderpriority,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_o_orderpriority,
         min(CAST(o_orderpriority AS VARCHAR)) AS mn_o_orderpriority,
         max(CAST(o_orderpriority AS VARCHAR)) AS mx_o_orderpriority
  FROM orders
)
SELECT u.column_name, a.n_rows, u.n_nulls, u.ndv, u.min_str, u.max_str
FROM a, (
  SELECT 'o_orderkey' AS column_name, nn_o_orderkey AS n_nulls,
         nd_o_orderkey AS ndv, mn_o_orderkey AS min_str,
         mx_o_orderkey AS max_str FROM a
  UNION ALL
  SELECT 'o_custkey', nn_o_custkey, nd_o_custkey, mn_o_custkey,
         mx_o_custkey FROM a
  UNION ALL
  SELECT 'o_orderstatus', nn_o_orderstatus, nd_o_orderstatus,
         mn_o_orderstatus, mx_o_orderstatus FROM a
  UNION ALL
  SELECT 'o_totalprice', nn_o_totalprice, nd_o_totalprice,
         mn_o_totalprice, mx_o_totalprice FROM a
  UNION ALL
  SELECT 'o_orderdate', nn_o_orderdate, nd_o_orderdate, mn_o_orderdate,
         mx_o_orderdate FROM a
  UNION ALL
  SELECT 'o_orderpriority', nn_o_orderpriority, nd_o_orderpriority,
         mn_o_orderpriority, mx_o_orderpriority FROM a
) u
ORDER BY column_name
"""

QUERIES["stats_table_profile"] = stats_table_profile
ORACLES["stats_table_profile"] = STATS_TABLE_PROFILE_SQL


# --- sequence pattern with NEGATION: A then B with no C between -----------------


def funnel_no_interference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence pattern with NEGATION — view → purchase within 6h with
    NO error strictly between (the MATCH_RECOGNIZE-with-negation shape
    plain funnels can't express). The Spark-first trick: a NOT EXISTS
    probe per candidate pair would be a second corpus join; instead
    ONE per-user cumulative error counter (ordered by (ts, event_id) —
    the deterministic tie-break) PREFIX-ENCODES the negation, and each
    (view, purchase) pair checks "no error between" in O(1) by
    comparing counters: errors strictly between v and p ⟺
    cum_err_before(p) > cum_err_at(v). The oracle deliberately uses
    the NAIVE NOT EXISTS formulation — two independent derivations of
    the semantics, not a shared trick value-hashed against itself.
    Output rolls up per view-day: pairs, clean pairs, clean milli
    revenue. Scale: one window pass per user partition + one
    time-bounded pair join — the counter rides the rows, the negation
    costs no extra scan; at 100 TB the error probe join the naive
    form needs would be the largest shuffle in the query."""
    from pyspark.sql import Window

    e = (
        t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.floor(F.col("value") * 1000).cast("long").alias("vm"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    cum = e.withColumn(
        "cum_err",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w)
        .cast("long"),
    ).localCheckpoint(eager=False)  # ONE window pass feeds both sides
    v = cum.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"),
        F.col("cum_err").alias("v_err"),
    )
    p = cum.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
        F.col("vm").alias("pvm"),
        # errors BEFORE the purchase (purchases never increment)
        F.col("cum_err").alias("p_err"),
    )
    pairs = v.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (
            (F.col("pts") > F.col("vts"))
            | ((F.col("pts") == F.col("vts")) & (F.col("pid") > F.col("vid")))
        )
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 6 HOUR")),
    ).withColumn("clean", F.col("p_err") == F.col("v_err"))
    return (
        pairs.groupBy(F.to_date("vts").alias("view_date"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("clean"), 1).otherwise(0))
            .cast("long")
            .alias("n_clean"),
            F.sum(F.when(F.col("clean"), F.col("pvm")).otherwise(0))
            .cast("long")
            .alias("clean_milli"),
        )
        .orderBy("view_date")
    )


FUNNEL_NO_INTERFERENCE_SQL = """
WITH v AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, event_id, CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
),
pairs AS (
  SELECT v.ts AS vts, p.vm,
         NOT EXISTS (
           SELECT 1 FROM err x WHERE x.user_id = v.user_id
             AND (x.ts > v.ts OR (x.ts = v.ts AND x.event_id > v.event_id))
             AND (x.ts < p.ts OR (x.ts = p.ts AND x.event_id < p.event_id))
         ) AS clean
  FROM v JOIN p ON p.user_id = v.user_id
    AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
    AND p.ts <= v.ts + INTERVAL 6 HOUR
)
SELECT CAST(vts AS DATE) AS view_date,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN clean THEN vm ELSE 0 END) AS BIGINT)
         AS clean_milli
FROM pairs GROUP BY 1 ORDER BY 1
"""

QUERIES["funnel_no_interference"] = funnel_no_interference
ORACLES["funnel_no_interference"] = FUNNEL_NO_INTERFERENCE_SQL


# --- the second-moment view maintained by a real stream -------------------------

_CORR_STORE_SCHEMA = (
    "o_orderstatus string, n_live long, sx long, sy long, "
    "sxx long, syy long, sxy long"
)


def corr_apply_batch(
    spark: SparkSession, batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    """One micro-batch of second-moment maintenance: fold the batch
    with the SAME `_corr_moment_fold` the batch view uses, then merge
    into the statuses-sized store by PLAIN ADDITION (the fold is
    linear — that's the whole point); exactly-once via the shared
    versioned commit."""
    from mysql_cdc_table_spark.operators.round12 import (
        _commit_version,
        _ivm_versions,
    )

    if _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
        return
    vs = _ivm_versions(spark, state_dir)
    if vs:
        store = spark.read.schema(_CORR_STORE_SCHEMA).parquet(
            f"{state_dir}/v{vs[-1]}/M"
        )
    else:
        store = spark.createDataFrame([], _CORR_STORE_SCHEMA)
    delta = _corr_moment_fold(batch_df)
    merged = (
        store.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            *[
                F.sum(c).cast("long").alias(c)
                for c in ("n_live", "sx", "sy", "sxx", "syy", "sxy")
            ]
        )
    )
    _commit_version(spark, state_dir, batch_id, {"M": merged}, 2)


def cdc_ivm_streaming_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second-moment view maintained by a REAL stream — the
    constant-state end of the streaming-IVM spectrum (the streamed
    support store carries a multiset; this store is |statuses| rows of
    six BIGINTs, period): the changelog staged as 4 gtid-ordered
    chunks through foreachBatch, each batch ONE map-side fold merged
    into the store by plain addition (linearity — pytest proves any
    chop sums to the same state), committed exactly-once. The readout
    computes corr off the final version with the SAME `_corr_readout`
    as the batch key, against the SAME oracle — the algebra is one
    code path batch and streaming. Scale: per-batch cost is the
    batch fold + a statuses-sized merge; the store never grows with
    stream history."""
    import hashlib
    import os
    import tempfile

    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.operators.round12 import (
        _ivm_versions,
        stage_ordered_chunks,
    )

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:corrstream".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"corr_stream_{tag}")
    feed_dir, state_dir, ckpt = (
        f"{root}/feed", f"{root}/state", f"{root}/ckpt",
    )
    cl = synthetic_changelog(spark, sf_dir)
    stage_ordered_chunks(spark, cl, "__gtid", 4, feed_dir)
    stream = (
        spark.readStream.schema(cl.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        corr_apply_batch(spark, batch_df, state_dir, batch_id)

    run_to_completion(
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .queryName("cdc_ivm_corr_stream")
    )
    vs = _ivm_versions(spark, state_dir)
    final = spark.read.schema(_CORR_STORE_SCHEMA).parquet(
        f"{state_dir}/v{vs[-1]}/M"
    )
    return _corr_readout(final)


QUERIES["cdc_ivm_streaming_corr"] = cdc_ivm_streaming_corr
ORACLES["cdc_ivm_streaming_corr"] = _cdc_ivm_corr_view_sql()


# --- replication-lag observability ----------------------------------------------


def cdc_replication_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-lag dashboard over the changelog's file lanes — the
    observability surface every CDC deployment watches (how far is
    each binlog lane behind the newest event anywhere?): per
    __file_seq, event/transaction counts, the lane's high-watermark
    GTID and event time, and lag_seconds = global max __tm − lane max
    __tm (exact integer seconds — unix_timestamp on both engines).
    The reference exposes no position or lag surface at all (its scan
    restarts from event 0 every query, SURVEY §2A). Shape: one scan →
    one map-side-combinable lane aggregate (+1 distinct-gtid partial
    riding the same shuffle); the global watermark is a 1-row
    broadcast. At 100 TB the lanes axis is topic-partitions-sized —
    the dashboard costs one pass regardless of retention."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    cl = synthetic_changelog(spark, sf_dir)
    lanes = cl.groupBy(F.col("__file_seq").alias("lane")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("__gtid").cast("long").alias("n_txns"),
        F.max("__gtid").cast("long").alias("max_gtid"),
        F.max("__tm").alias("lane_high_tm"),
    )
    global_hi = cl.agg(F.max("__tm").alias("global_high_tm"))
    return (
        lanes.crossJoin(F.broadcast(global_hi))
        .select(
            "lane",
            "n_events",
            "n_txns",
            "max_gtid",
            "lane_high_tm",
            (
                F.unix_timestamp("global_high_tm")
                - F.unix_timestamp("lane_high_tm")
            )
            .cast("long")
            .alias("lag_seconds"),
        )
        .orderBy("lane")
    )


def _cdc_replication_lag_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
lanes AS (
  SELECT __file_seq AS lane,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT __gtid) AS BIGINT) AS n_txns,
         CAST(max(__gtid) AS BIGINT) AS max_gtid,
         max(__tm) AS lane_high_tm
  FROM changelog GROUP BY 1
),
g AS (SELECT max(__tm) AS global_high_tm FROM changelog)
SELECT lane, n_events, n_txns, max_gtid, lane_high_tm,
       CAST(date_diff('second', lane_high_tm, global_high_tm) AS BIGINT)
         AS lag_seconds
FROM lanes CROSS JOIN g
ORDER BY lane
"""


QUERIES["cdc_replication_lag"] = cdc_replication_lag
ORACLES["cdc_replication_lag"] = _cdc_replication_lag_sql()


# --- Z-order layout: interleaved-bit clustering for multi-dim locality ----------


def _zorder_expr(xcol: str, ycol: str, bits: int = 8) -> str:
    """Bit-interleave SQL shared VERBATIM by the Spark expression and
    the DuckDB oracle (shift/and/or behave identically on BIGINTs):
    z = x0 y0 x1 y1 ... from the low `bits` bits of each coordinate."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def sort_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering key over (customer, order-date) — the data
    LAYOUT technique multi-dimensional scan locality needs at 100 TB:
    a file sorted by one key answers range filters on that key with
    few files, but a 2-D box predicate over a 1-D layout touches
    everything; interleaving the two coordinates' bits makes rows
    close in EITHER dimension land close in the file order, so parquet
    footer min/max statistics prune most row groups for 2-D boxes
    (pytest writes both layouts and proves the z-ordered one
    concentrates a box query's rows in ~4× fewer files). Coordinates
    quantize to 8-bit grids — custkey by a data-derived max (one
    broadcast scalar, SQL-reproducible), order date by its fixed
    1992-1998 span — and the interleave expression is generated ONCE
    and shared verbatim with the oracle. Output: per z-BUCKET (top 8
    bits) row counts and exact cents sums — the value hash locks every
    row's bucket assignment. Shape: one scan, one map-side aggregate;
    the layout write itself is repartitionByRange(zkey) + sortWithin,
    shuffle-once."""
    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_custkey").cast("long").alias("maxck"))
    zx = _zorder_expr("xb", "yb")
    # integer DIV on both engines (Spark DIV, DuckDB //) — a double
    # division could round across an integer boundary before the cast
    coords = o.crossJoin(F.broadcast(mx)).selectExpr(
        "least(255, o_custkey * 256 DIV (maxck + 1)) AS xb",
        "least(255, CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
        " * 256 DIV 2500) AS yb",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents",
    )
    return (
        coords.selectExpr(f"CAST(({zx}) >> 8 AS BIGINT) AS zbucket", "cents")
        .groupBy("zbucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy("zbucket")
    )


def _sort_zorder_layout_sql() -> str:
    zx = _zorder_expr("xb", "yb")
    return f"""
WITH mx AS (SELECT CAST(max(o_custkey) AS BIGINT) AS maxck FROM orders),
coords AS (
  SELECT least(255, CAST(o_custkey * 256 // (maxck + 1) AS BIGINT)) AS xb,
         least(255, CAST(date_diff('day', DATE '1992-01-01',
                   CAST(o_orderdate AS DATE)) * 256 // 2500 AS BIGINT))
           AS yb,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN mx
)
SELECT CAST(({zx}) >> 8 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS cents_sum
FROM coords GROUP BY 1 ORDER BY 1
"""


QUERIES["sort_zorder_layout"] = sort_zorder_layout
ORACLES["sort_zorder_layout"] = _sort_zorder_layout_sql()


# --- projection onto the dominant direction --------------------------------------


def emb_project_dominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USE the power-iteration direction: project every embedding onto
    the fixed-point iterate and report per-label projection statistics
    — the label-separability readout a training pipeline checks before
    trusting a 1-D slice (if label means separate along the dominant
    direction, the space encodes the label linearly). The 64-int
    vector is a bounded driver scalar (the ≤32-row offset-table
    convention); the projection is a JVM-side ordered fold —
    ``aggregate(zip_with(embedding, v, ...))`` with the SAME
    quantization q = floor(10³·x) as the Gram pass — so every proj is
    an exact BIGINT and min/max/sum per label hash cross-engine. The
    oracle recomputes the ENTIRE pipeline (Gram → fixed-point
    iterations → projection) in SQL. Scale: one embeddings scan with a
    64-literal expression, one map-side-combinable label aggregate;
    the vector derivation is the d²-bounded iteration."""
    v_rows = emb_pca_power_iter(spark, sf_dir).collect()  # 64 ints, bounded
    v_lit = ", ".join(f"{int(r['v_fp'])}L" for r in v_rows)
    proj = (
        f"aggregate(zip_with(embedding, array({v_lit}), "
        f"(x, y) -> CAST(floor(CAST(x AS DOUBLE) * {_PCA_Q}) AS BIGINT) * y), "
        f"0L, (a, b) -> a + b)"
    )
    e = t(spark, sf_dir, "embeddings")
    return (
        e.selectExpr("label", f"{proj} AS proj")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.min("proj").cast("long").alias("min_proj"),
            F.max("proj").cast("long").alias("max_proj"),
            F.sum("proj").cast("long").alias("sum_proj"),
        )
        .orderBy("label")
    )


def _emb_project_dominant_sql() -> str:
    body, prev = _pca_cte_body()
    return f"""
WITH {body},
proj AS (
  SELECT qe.vec_id, CAST(sum(qe.q * v.v) AS BIGINT) AS proj
  FROM qe JOIN {prev} v ON v.j = qe.i
  GROUP BY qe.vec_id
)
SELECT e.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(p.proj) AS BIGINT) AS min_proj,
       CAST(max(p.proj) AS BIGINT) AS max_proj,
       CAST(sum(p.proj) AS BIGINT) AS sum_proj
FROM proj p JOIN embeddings e ON e.vec_id = p.vec_id
GROUP BY e.label
ORDER BY e.label
"""


QUERIES["emb_project_dominant"] = emb_project_dominant
ORACLES["emb_project_dominant"] = _emb_project_dominant_sql()


# --- dynamic partition pruning over a partitioned fact layout --------------------


def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the optimization that makes
    dimensional filters cheap on a date-partitioned 100 TB fact table:
    the fact stages ONCE as parquet partitioned by order month (84
    partitions; the hive-layout write every warehouse fact uses), the
    month dimension stages as its own tiny parquet (month → quarter),
    and the query filters the DIMENSION (quarter = '1995Q1') and joins
    on month — Catalyst inserts a dynamicpruning subquery into the
    fact scan's PartitionFilters, so only the 3 matching month
    directories are LISTED, let alone read (pytest asserts the
    dynamicpruning expression and that a static equivalent reads the
    same rows). The oracle recomputes from raw orders with the same
    quarter arithmetic. Static pruning can't do this: the month list
    isn't known until the dimension is scanned. Scale: the dim is a
    broadcast; fact IO ∝ selected partitions."""
    import hashlib
    import os
    import tempfile

    o = t(spark, sf_dir, "orders")
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:dpp".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"dpp_{tag}")
    fact_dir, dim_dir = f"{root}/fact", f"{root}/dim"
    if not _hfs.exists(spark, root):
        # stage into a temp sibling and rename to root LAST: root only
        # exists once both tables are fully written, so a crash mid-
        # staging can't leave a half-built layout a later call accepts
        tmp_root = f"{root}.staging"
        _hfs.delete(spark, tmp_root)
        facts = o.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )
        facts.write.partitionBy("ym").mode("overwrite").parquet(
            f"{tmp_root}/fact"
        )
        dim = (
            facts.select("ym")
            .distinct()
            .withColumn(
                "yq",
                F.concat(
                    F.substring("ym", 1, 4),
                    F.lit("Q"),
                    F.ceil(F.substring("ym", 6, 2).cast("int") / 3).cast(
                        "string"
                    ),
                ),
            )
        )
        dim.coalesce(1).write.mode("overwrite").parquet(f"{tmp_root}/dim")
        _hfs.rename(spark, tmp_root, root)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("yq") == "1995Q1")
    return (
        fact.join(F.broadcast(dim), "ym")
        .groupBy("ym")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy("ym")
    )


JOIN_DPP_PARTITION_PRUNED_SQL = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1995-04-01'
GROUP BY 1 ORDER BY 1
"""

QUERIES["join_dpp_partition_pruned"] = join_dpp_partition_pruned
ORACLES["join_dpp_partition_pruned"] = JOIN_DPP_PARTITION_PRUNED_SQL


# --- split-leakage audit: near-dups must not straddle train/val/test ------------


def corpus_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit — the eval-integrity check every
    training pipeline needs and per-document splitting cannot pass: a
    near-duplicate pair straddling train and test inflates eval (the
    model saw the answer). Composes two existing planes: the LSH
    near-dup pairs (dedup_minhash_pairs) and the Knuth-hash 80/10/10
    split (corpus_split_hash), counting pairs per (scheme, split_lo,
    split_hi) under BOTH schemes — 'doc' (split by doc_id: leaky
    cross-split rows appear) and 'cluster' (split by the connected
    component's min-id via dedup_cluster_resolve: ZERO cross-split
    pairs BY CONSTRUCTION — a pair is an edge, so both ends share a
    component and therefore a split; the value hash proves the zero).
    The oracle recomputes pairs, the recursive-CTE transitive closure,
    and both splits in SQL. Scale: pairs are post-LSH near-linear;
    splits are pure projections; the audit is one grouped count —
    cluster-aware splitting costs one extra join against the
    components frame."""
    from mysql_cdc_table_spark.functions.dedup import (
        dedup_cluster_resolve,
        dedup_minhash_pairs,
    )

    def split_of(col):
        b = (col * F.lit(2654435761)) % F.lit(4294967296) % 100
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    pairs = dedup_minhash_pairs(spark, sf_dir).localCheckpoint(eager=False)
    cc = dedup_cluster_resolve(spark, sf_dir).select("doc_id", "cluster_id")

    doc_scheme = pairs.select(
        F.lit("doc").alias("scheme"),
        split_of(F.col("doc1")).alias("s1"),
        split_of(F.col("doc2")).alias("s2"),
    )
    cl = pairs.join(
        cc.withColumnRenamed("doc_id", "doc1").withColumnRenamed(
            "cluster_id", "c1"
        ),
        "doc1",
    ).join(
        cc.withColumnRenamed("doc_id", "doc2").withColumnRenamed(
            "cluster_id", "c2"
        ),
        "doc2",
    )
    cluster_scheme = cl.select(
        F.lit("cluster").alias("scheme"),
        split_of(F.col("c1")).alias("s1"),
        split_of(F.col("c2")).alias("s2"),
    )
    both = doc_scheme.unionByName(cluster_scheme)
    return (
        both.select(
            "scheme",
            F.least("s1", "s2").alias("split_lo"),
            F.greatest("s1", "s2").alias("split_hi"),
        )
        .groupBy("scheme", "split_lo", "split_hi")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("scheme", "split_lo", "split_hi")
    )


def _corpus_split_leakage_audit_sql() -> str:
    from mysql_cdc_table_spark.functions.dedup import (
        DEDUP_MINHASH_PAIRS_SQL,
    )

    split = (
        "CASE WHEN ({c} * 2654435761) % 4294967296 % 100 < 80 THEN 'train'"
        " WHEN ({c} * 2654435761) % 4294967296 % 100 < 90 THEN 'val'"
        " ELSE 'test' END"
    )
    return f"""
WITH RECURSIVE
pairs AS (SELECT * FROM ({DEDUP_MINHASH_PAIRS_SQL})),
edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
          UNION ALL SELECT doc2, doc1 FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, root) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach
       GROUP BY node),
doc_scheme AS (
  SELECT 'doc' AS scheme,
         {split.format(c="doc1")} AS s1,
         {split.format(c="doc2")} AS s2
  FROM pairs
),
cluster_scheme AS (
  SELECT 'cluster' AS scheme,
         {split.format(c="a.cluster_id")} AS s1,
         {split.format(c="b.cluster_id")} AS s2
  FROM pairs p JOIN cc a ON a.doc_id = p.doc1
               JOIN cc b ON b.doc_id = p.doc2
),
both_s AS (SELECT * FROM doc_scheme UNION ALL SELECT * FROM cluster_scheme)
SELECT scheme, least(s1, s2) AS split_lo, greatest(s1, s2) AS split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM both_s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


QUERIES["corpus_split_leakage_audit"] = corpus_split_leakage_audit
ORACLES["corpus_split_leakage_audit"] = _corpus_split_leakage_audit_sql()
