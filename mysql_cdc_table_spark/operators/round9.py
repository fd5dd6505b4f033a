"""Round-9 operators: effect sizes, agreement, robust dispersion, rank
correlation, retrieval scoring, sequential drift — plus a sink-contract
proof key.

Each entry follows the repo contract: a ``QUERIES`` callable
(spark, sf_dir) -> DataFrame and an ``ORACLES`` ANSI-SQL twin DuckDB
runs on the same parquet — column names aliased identically, sums cast
BIGINT, float arithmetic kept to fixed-order expressions both engines
compute bit-identically (the repo's verify recipe documents the
contract). Exact
integer statistics that can outgrow int64 are carried as DECIMAL(38,0)
on the Spark side / HUGEINT in DuckDB and emitted as DIGIT STRINGS —
both engines print the same exact integer, so the hash compare never
touches a >53-bit float conversion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_cdc_table_spark.operators._util import t

QUERIES: dict = {}
ORACLES: dict = {}


def _dow(day_col):
    """Engine-proof weekday: days-since-epoch (an exact integer in both
    engines) shifted so 0 = Thursday 1970-01-01, modulo 7 — no reliance
    on either engine's dayofweek() origin convention."""
    return day_col % 7


# --- agg_cramers_v ------------------------------------------------------------


def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the effect size agg_chi2_independence's raw cells
    feed: association strength between event_type and weekday on a
    k×7 contingency table, normalized to [0,1]. The chi² total is a
    float sum ACROSS cells — engine-order-dependent in general — but
    the cell set is bounded (types × 7), so the per-cell terms are
    collected in (type, dow) order and folded SEQUENTIALLY with
    aggregate()/list_reduce: both engines run the identical IEEE
    sequence and the total is bit-exact (the ts_ewma_window fold
    discipline applied across a bounded grid instead of down a frame).
    Scale shape: one map-side-combinable count per cell + two bounded
    marginal aggregates; nothing downstream of the scan exceeds
    types×7 rows. Reference parity: the reference delegates ALL
    aggregation to MySQL (SURVEY §2C); this is the delegated-surface
    statistical family."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        _dow(
            F.datediff(F.date_trunc("day", F.col("ts")), F.lit("1970-01-01"))
        ).alias("dow"),
    )
    cells = e.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("rtot"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("ctot"))
    n = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    cell_terms = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            "r",
            "c",
            "n",
            (
                (
                    F.col("o")
                    - F.col("rtot") * F.col("ctot") / F.col("n")
                )
                * (
                    F.col("o")
                    - F.col("rtot") * F.col("ctot") / F.col("n")
                )
                / (F.col("rtot") * F.col("ctot") / F.col("n"))
            ).alias("term"),
        )
    )
    # bounded ordered fold: bit-identical cross-engine chi² total
    folded = (
        cell_terms.groupBy("r", "c", "n")
        .agg(
            F.expr(
                "aggregate("
                "  sort_array(collect_list(named_struct("
                "    'event_type', event_type, 'dow', dow, 'term', term))),"
                "  cast(0.0 as double),"
                "  (acc, x) -> acc + x.term)"
            ).alias("chi2")
        )
    )
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("chi2") * 1_000_000).cast("long").alias("chi2_e6"),
        F.floor(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * F.least(F.col("r") - 1, F.col("c") - 1)
                )
            )
            * 1_000_000
        )
        .cast("long")
        .alias("cramers_v_e6"),
    )


AGG_CRAMERS_V_SQL = """
WITH e AS (
  SELECT event_type,
         (CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01') % 7 AS dow
  FROM events
), cells AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
  FROM e GROUP BY 1, 2
), rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rtot FROM cells GROUP BY 1),
ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ctot FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS r,
         CAST(count(DISTINCT dow) AS BIGINT) AS c
  FROM cells
), terms AS (
  SELECT cells.event_type, cells.dow, tot.r, tot.c, tot.n,
         (cells.o - rt.rtot * ct.ctot / tot.n)
         * (cells.o - rt.rtot * ct.ctot / tot.n)
         / (rt.rtot * ct.ctot / tot.n) AS term
  FROM cells
  JOIN rt USING (event_type)
  JOIN ct USING (dow)
  CROSS JOIN tot
), folded AS (
  SELECT r, c, n,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(term ORDER BY event_type, dow)),
           (acc, x) -> acc + x) AS chi2
  FROM terms GROUP BY r, c, n
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(floor(chi2 * 1000000) AS BIGINT) AS chi2_e6,
       CAST(floor(sqrt(chi2 / (n * least(r - 1, c - 1))) * 1000000)
            AS BIGINT) AS cramers_v_e6
FROM folded
"""

QUERIES["agg_cramers_v"] = agg_cramers_v
ORACLES["agg_cramers_v"] = AGG_CRAMERS_V_SQL


# --- agg_cohens_kappa ---------------------------------------------------------


def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings of the same rows (the LLM-pipeline use: two
    annotators / two classifier versions labeling the same corpus).
    Raters here are derived deterministic 3-way labels (value-milli
    mod 3 vs user_id mod 3). The kappa identity is evaluated in EXACT
    integer arithmetic: kappa = (n·diag − Σ_k na_k·nb_k) /
    (n² − Σ_k na_k·nb_k) — no float accumulations at all; the single
    final division is one IEEE op, floored to ppm. Marginal products
    na_k·nb_k ≤ n² hold in int64 to n ≈ 3·10⁹ rows; past that the
    marginals are bounded (k=3) so promoting them to decimal is a
    type change, not a plan change. Shape: one map-side-combinable
    count per (a, b) cell — 9 cells — then driver-sized arithmetic."""
    e = t(spark, sf_dir, "events").select(
        F.pmod(F.floor(F.col("value") * 1000).cast("long"), F.lit(3)).alias(
            "a"
        ),
        F.pmod(F.col("user_id"), F.lit(3)).alias("b"),
    )
    cells = e.groupBy("a", "b").agg(F.count("*").alias("o"))
    stats = cells.agg(
        F.sum("o").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("o")).otherwise(0)).alias(
            "diag"
        ),
    )
    ma = cells.groupBy("a").agg(F.sum("o").alias("na"))
    mb = cells.groupBy("b").agg(F.sum("o").alias("nb"))
    pe_num = (
        ma.join(mb, ma["a"] == mb["b"])
        .agg(F.sum(F.col("na") * F.col("nb")).alias("pe_num"))
    )
    both = stats.crossJoin(F.broadcast(pe_num)).select(
        F.col("n").cast("long").alias("n"),
        F.col("diag").cast("long").alias("n_agree"),
        F.col("pe_num").cast("long").alias("pe_num"),
        (F.col("n") * F.col("diag") - F.col("pe_num"))
        .cast("long")
        .alias("kappa_num"),
        (F.col("n") * F.col("n") - F.col("pe_num"))
        .cast("long")
        .alias("kappa_den"),
    )
    # 1e6·(num/den) with num, den exact int64: int64→double is
    # correctly rounded in both engines, the two IEEE ops are fixed
    # order, floor is exact — never multiply the integer by 1e6 first
    # (exceeds 2^53 under double in DuckDB, int64 range at ~1e12 rows)
    return both.withColumn(
        "kappa_e6",
        F.floor(
            F.lit(1_000_000.0)
            * F.col("kappa_num").cast("double")
            / F.col("kappa_den").cast("double")
        ).cast("long"),
    )


AGG_COHENS_KAPPA_SQL = """
WITH e AS (
  SELECT CAST(floor(value * 1000) AS BIGINT) % 3 AS a,
         user_id % 3 AS b
  FROM events
), cells AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY 1, 2
), st AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS diag
  FROM cells
), ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS na FROM cells GROUP BY 1),
mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS nb FROM cells GROUP BY 1),
pe AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS pe_num
  FROM ma JOIN mb ON ma.a = mb.b
)
SELECT st.n,
       st.diag AS n_agree,
       pe.pe_num,
       CAST(st.n * st.diag - pe.pe_num AS BIGINT) AS kappa_num,
       CAST(st.n * st.n - pe.pe_num AS BIGINT) AS kappa_den,
       CAST(floor(1000000.0
            * CAST(st.n * st.diag - pe.pe_num AS DOUBLE)
            / CAST(st.n * st.n - pe.pe_num AS DOUBLE)) AS BIGINT)
         AS kappa_e6
FROM st CROSS JOIN pe
"""

QUERIES["agg_cohens_kappa"] = agg_cohens_kappa
ORACLES["agg_cohens_kappa"] = AGG_COHENS_KAPPA_SQL

# --- agg_brown_forsythe -------------------------------------------------------


def agg_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe dispersion statistics — variance-homogeneity
    across event types, the robust (median-centered) Levene variant
    that pairs with agg_welch_t_pairs (means) and agg_kruskal_rank_sums
    (locations). Per group j over milli-values: the DISCRETE lower
    median (selected on the (type, vm) GRID by cumulative count — no
    raw-row sort; the grid is value-domain bounded), absolute
    deviations z = |vm − med_j| (exact integers), and the ANOVA-on-z
    sufficient statistics n_j, Σz, Σz² — the F statistic is a driver-
    sized formula over these. Σz² can outgrow int64 (~z²·N), so it is
    summed as DECIMAL(38,0) / HUGEINT and emitted as a DIGIT STRING —
    hash-exact with zero float surface. Scale: one grid count, one
    per-type grid window (bounded by per-type value cardinality), one
    broadcast of k medians back onto the grid."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("vm")
    )
    grid = e.groupBy("event_type", "vm").agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("vm").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "event_type", "vm", "c", F.sum("c").over(w).alias("cum")
    )
    tot = grid.groupBy("event_type").agg(F.sum("c").alias("n_j"))
    med = (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("cum") >= (F.col("n_j") + 1).cast("long") / 2)
        .groupBy("event_type")
        .agg(F.min("vm").alias("med_vm"))
    )
    z = (
        grid.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "c",
            F.abs(F.col("vm") - F.col("med_vm")).alias("z"),
            "med_vm",
        )
    )
    return (
        z.groupBy("event_type", "med_vm")
        .agg(
            F.sum("c").cast("long").alias("n_j"),
            F.sum(F.col("c") * F.col("z")).cast("long").alias("sum_z"),
            F.sum(
                (F.col("c") * F.col("z") * F.col("z")).cast("decimal(38,0)")
            )
            .cast("string")
            .alias("sum_z2"),
        )
        .select("event_type", "med_vm", "n_j", "sum_z", "sum_z2")
        .orderBy("event_type")
    )


AGG_BROWN_FORSYTHE_SQL = """
WITH e AS (
  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
), grid AS (
  SELECT event_type, vm, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
), cum AS (
  SELECT event_type, vm, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vm
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM grid
), tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_j FROM grid GROUP BY 1
), med AS (
  SELECT cum.event_type, min(vm) AS med_vm
  FROM cum JOIN tot USING (event_type)
  WHERE cum >= (tot.n_j + 1) / 2
  GROUP BY 1
)
SELECT g.event_type,
       m.med_vm,
       CAST(sum(g.c) AS BIGINT) AS n_j,
       CAST(sum(g.c * abs(g.vm - m.med_vm)) AS BIGINT) AS sum_z,
       CAST(sum(CAST(g.c AS HUGEINT) * abs(g.vm - m.med_vm)
                * abs(g.vm - m.med_vm)) AS VARCHAR) AS sum_z2
FROM grid g JOIN med m USING (event_type)
GROUP BY 1, 2
ORDER BY 1
"""

QUERIES["agg_brown_forsythe"] = agg_brown_forsythe
ORACLES["agg_brown_forsythe"] = AGG_BROWN_FORSYTHE_SQL

# --- agg_spearman_corr ----------------------------------------------------------


def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between value and time over events —
    the rank twin of a Pearson trend probe, and the first CONSUMER of
    the round-9 two-level grid ranking outside the test family: both
    variables collapse to their distinct-value grids, rank there via
    ``_grid_prefix_prev`` (range-bucketed prefix sums — never a global
    sort), and the per-row doubled average ranks (2·prev + cnt + 1,
    exact integers under ties) attach to the JOINT (vm, tm) grid so no
    raw row is ever ranked. The Pearson-on-ranks sufficient statistics
    Σx, Σy, Σxy, Σx², Σy² are ~N³ — far past int64 — so they are
    summed as DECIMAL(38,0)/HUGEINT (exact to N ≈ 10⁸) and emitted as
    DIGIT STRINGS; rho itself is a driver-sized formula over them
    (reported here floored to basis points through the documented
    correctly-rounded int→double path)."""
    from mysql_cdc_table_spark.operators.round8 import _grid_prefix_prev

    e = t(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 1000).cast("long").alias("vm"),
        # ts is TIMESTAMP_NTZ: micros-since-epoch via timestampdiff (no
        # tz reinterpretation; DuckDB's epoch_us on its naive TIMESTAMP
        # is the exact same integer)
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("tm"),
    )
    joint = e.groupBy("vm", "tm").agg(F.count("*").alias("cj"))
    vgrid = joint.groupBy("vm").agg(F.sum("cj").alias("cv"))
    tgrid = (
        joint.groupBy("tm")
        .agg(F.sum("cj").alias("ctm"))
        .withColumnRenamed("tm", "vm")  # _grid_prefix_prev keys on vm
    )
    vrank = _grid_prefix_prev(vgrid, "cv").select(
        "vm", (2 * F.col("prev") + F.col("cv") + 1).alias("x")
    )
    trank = (
        _grid_prefix_prev(tgrid, "ctm")
        .select(
            F.col("vm").alias("tm"),
            (2 * F.col("prev") + F.col("ctm") + 1).alias("y"),
        )
    )
    dec = "decimal(38,0)"
    terms = (
        joint.join(vrank, "vm")
        .join(trank, "tm")
        .select(
            F.col("cj"),
            F.col("x").cast(dec).alias("x"),
            F.col("y").cast(dec).alias("y"),
        )
    )
    stats = terms.agg(
        F.sum("cj").cast("long").alias("n"),
        F.sum(F.col("cj") * F.col("x")).alias("sx"),
        F.sum(F.col("cj") * F.col("y")).alias("sy"),
        F.sum(F.col("cj") * F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("cj") * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("cj") * F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n").cast(dec) * F.col("syy") - F.col("sy") * F.col("sy")
    return stats.select(
        "n",
        F.col("sxy").cast("string").alias("sxy"),
        F.col("sxx").cast("string").alias("sxx"),
        F.col("syy").cast("string").alias("syy"),
        num.cast("string").alias("rho_num"),
        F.floor(
            F.lit(10_000.0)
            * num.cast("double")
            / F.sqrt(d1.cast("double") * d2.cast("double"))
        )
        .cast("long")
        .alias("rho_bp"),
    )


AGG_SPEARMAN_CORR_SQL = """
WITH e AS (
  SELECT CAST(floor(value * 1000) AS BIGINT) AS vm,
         epoch_us(ts) AS tm
  FROM events
), joint AS (
  SELECT vm, tm, CAST(count(*) AS BIGINT) AS cj FROM e GROUP BY 1, 2
), vgrid AS (
  SELECT vm, CAST(sum(cj) AS BIGINT) AS cv FROM joint GROUP BY 1
), tgrid AS (
  SELECT tm, CAST(sum(cj) AS BIGINT) AS ctm FROM joint GROUP BY 1
), vrank AS (
  SELECT vm,
         2 * CAST(sum(cv) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING) - cv
             AS BIGINT) + cv + 1 AS x
  FROM vgrid
), trank AS (
  SELECT tm,
         2 * CAST(sum(ctm) OVER (ORDER BY tm ROWS UNBOUNDED PRECEDING) - ctm
             AS BIGINT) + ctm + 1 AS y
  FROM tgrid
), terms AS (
  SELECT j.cj, CAST(v.x AS HUGEINT) AS x, CAST(tr.y AS HUGEINT) AS y
  FROM joint j JOIN vrank v USING (vm) JOIN trank tr USING (tm)
), stats AS (
  SELECT CAST(sum(cj) AS BIGINT) AS n,
         sum(cj * x) AS sx,
         sum(cj * y) AS sy,
         sum(cj * x * y) AS sxy,
         sum(cj * x * x) AS sxx,
         sum(cj * y * y) AS syy
  FROM terms
)
SELECT n,
       CAST(sxy AS VARCHAR) AS sxy,
       CAST(sxx AS VARCHAR) AS sxx,
       CAST(syy AS VARCHAR) AS syy,
       CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS VARCHAR) AS rho_num,
       CAST(floor(10000.0
            * CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                   * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)))
            AS BIGINT) AS rho_bp
FROM stats
"""

QUERIES["agg_spearman_corr"] = agg_spearman_corr
ORACLES["agg_spearman_corr"] = AGG_SPEARMAN_CORR_SQL

# --- text_bm25_scores ---------------------------------------------------------

_BM25_TERMS = ("join", "hash", "scan", "filter", "vector")


def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring — the ranking function a training-data
    pipeline uses to mine documents for a query set (contamination
    checks, hard-negative mining, topical subcorpora). For a fixed
    5-term query set: tf from one explode+count over the matching
    tokens only (the filter pushes into the scan side of the explode),
    document length from size(tokens), df/avgdl from two bounded
    aggregates, then score = idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    with k1=1.2, b=0.75 and the BM25+ idf ln(1 + (N−df+0.5)/(df+0.5)).
    The idf's ln is per-term (5 cells) and the final score is floored
    to e6 before ANY ranking — ranks compare exact integers, so a
    1-ulp libm divergence cannot reorder engines. Top-10 per term runs
    TWO-LEVEL (per (term, doc-hash-bucket) top-10, then top-10 of the
    ≤32·10 survivors) — the scale-safe top-k idiom, never a global
    per-term sort of all matching docs."""
    from pyspark.sql import Window

    from mysql_cdc_table_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tf = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    consts = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_tokens"),
    )
    df_ = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(consts))
        .select(
            "tok",
            "doc_id",
            F.floor(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        F.lit(0.25)
                        + 0.75
                        * F.col("dl")
                        / (
                            F.col("tot_tokens").cast("double")
                            / F.col("n_docs")
                        )
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("score_e6"),
        )
    )
    w1 = Window.partitionBy("tok", "bkt").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    w2 = Window.partitionBy("tok").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("bkt", F.pmod(F.col("doc_id"), F.lit(32)))
        .withColumn("lrn", F.row_number().over(w1))
        .filter(F.col("lrn") <= 10)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= 10)
        .select(
            F.col("tok").alias("term"),
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            "score_e6",
        )
        .orderBy("term", "rnk")
    )


TEXT_BM25_SCORES_SQL = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
  WHERE tok IN ('join', 'hash', 'scan', 'filter', 'vector')
  GROUP BY 1, 2
), consts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS tot_tokens
  FROM dl
), df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.tok, tf.doc_id,
         CAST(floor(
           ln(1.0 + (consts.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
              / (CAST(consts.tot_tokens AS DOUBLE) / consts.n_docs)))
           * 1000000) AS BIGINT) AS score_e6
  FROM tf
  JOIN dl USING (doc_id)
  JOIN df USING (tok)
  CROSS JOIN consts
), ranked AS (
  SELECT tok, doc_id, score_e6,
         row_number() OVER (PARTITION BY tok
                            ORDER BY score_e6 DESC, doc_id) AS rnk
  FROM scored
)
SELECT tok AS term, CAST(rnk AS BIGINT) AS rnk, doc_id, score_e6
FROM ranked WHERE rnk <= 10
ORDER BY term, rnk
"""

QUERIES["text_bm25_scores"] = text_bm25_scores
ORACLES["text_bm25_scores"] = TEXT_BM25_SCORES_SQL

# --- ts_page_hinkley ----------------------------------------------------------

PH_FRAME = 20     # trailing observations per detector state
PH_DELTA = 0.005  # PH drift allowance (the classic delta)


def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detector per user — the sequential
    change-point statistic streaming quality monitors run on model
    scores (CUSUM's running-mean-referenced cousin; pairs with
    ts_cusum_drift): over the trailing PH_FRAME values,
      g_t = g_{t-1} + (x_t − mean_t − δ),  PH_t = g_t − min_{i≤t} g_i
    with mean_t the running mean INCLUDING x_t. The fold is one
    aggregate() pass with a 4-field struct state (sum, count, g, min-g)
    — written so every field reads only the PREVIOUS accumulator, the
    exact IEEE sequence DuckDB's recursive-CTE oracle replays (struct
    list_reduce is broken there for coupled recurrences — the Holt
    lesson). O(frame) per row inside a user partition; nothing crosses
    partitions at any scale. Output floors to e6."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(PH_FRAME - 1), 0)
    )
    d = PH_DELTA
    step = (
        f"(acc, x) -> named_struct("
        f"'s', acc.s + x, "
        f"'c', acc.c + 1, "
        f"'g', acc.g + (x - (acc.s + x) / (acc.c + 1) - {d}), "
        f"'mn', least(acc.mn, "
        f"  acc.g + (x - (acc.s + x) / (acc.c + 1) - {d})))"
    )
    fold = F.expr(
        f"aggregate("
        f"  vals,"
        f"  named_struct('s', cast(0.0 as double), 'c', 0,"
        f"    'g', cast(0.0 as double), 'mn', cast(0.0 as double)),"
        f"  {step})"
    )
    return (
        ev.withColumn("vals", F.collect_list("value").over(w))
        .withColumn("acc", fold)
        .select(
            "event_id",
            "user_id",
            F.floor((F.col("acc.g") - F.col("acc.mn")) * 1_000_000)
            .cast("long")
            .alias("ph_e6"),
            F.floor(F.col("acc.mn") * 1_000_000).cast("long").alias(
                "gmin_e6"
            ),
        )
    )


TS_PAGE_HINKLEY_SQL = f"""
WITH RECURSIVE framed AS (
  SELECT event_id, user_id,
         list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {PH_FRAME - 1} PRECEDING AND CURRENT ROW
         ) AS vals
  FROM events
), rec AS (
  SELECT event_id, user_id, vals, 0 AS i,
         CAST(0.0 AS DOUBLE) AS s, 0 AS c,
         CAST(0.0 AS DOUBLE) AS g, CAST(0.0 AS DOUBLE) AS mn
  FROM framed
  UNION ALL
  SELECT event_id, user_id, vals, i + 1,
         s + vals[i + 1],
         c + 1,
         g + (vals[i + 1] - (s + vals[i + 1]) / (c + 1) - {PH_DELTA}),
         least(mn,
           g + (vals[i + 1] - (s + vals[i + 1]) / (c + 1) - {PH_DELTA}))
  FROM rec WHERE i < len(vals)
)
SELECT event_id, user_id,
       CAST(floor((g - mn) * 1000000) AS BIGINT) AS ph_e6,
       CAST(floor(mn * 1000000) AS BIGINT) AS gmin_e6
FROM rec WHERE i = len(vals)
"""

QUERIES["ts_page_hinkley"] = ts_page_hinkley
ORACLES["ts_page_hinkley"] = TS_PAGE_HINKLEY_SQL

# --- cdc_binlog_overwrite_rewrite -----------------------------------------------


def cdc_binlog_overwrite_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink's OVERWRITE contract, driver-proven (round 9): the full
    synthetic changelog is written through ``mysql_binlog`` at 8
    partitions, then a FILTERED third of it (gtid % 3 = 0 — update
    pairs share a gtid, so transactions stay whole) is re-saved to the
    SAME directory at 2 partitions. A correct overwrite reclaims the
    first save's six now-stale files; the reader then sees exactly the
    second save. The oracle aggregates the filtered changelog CTE and
    never touches the wire — any stale file surviving the re-save
    doubles counts and breaks the hash (the ADVICE-flagged failure
    round 9 fixed: commit now deletes binlog.* not in the committed
    set). Cites the reference's missing write path entirely
    (binlogdb.cc:283-292, 317-345)."""
    import hashlib
    import os
    import tempfile

    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
    )

    register(spark)
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:rewrite".encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"cdc_rewrite_binlogs_{tag}")
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    cl = synthetic_changelog(spark, sf_dir)

    def save(df, parts):
        (
            df.repartition(parts, "__gtid")
            .write.format("mysql_binlog")
            .option("schema_ddl", ddl)
            .option("database", "tpch")
            .option("table", "orders")
            .mode("overwrite")
            .save(stage)
        )

    save(cl, 8)
    save(cl.filter(F.col("__gtid") % 3 == 0), 2)
    back = mysql_binlog_read(
        spark, stage, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )
    return back.groupBy("__op").agg(
        F.count("*").alias("n_rows"),
        F.sum("__gtid").alias("gtid_sum"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents_sum"
        ),
        F.count_distinct("o_orderkey").alias("n_keys"),
    )


def _overwrite_rewrite_sql() -> str:
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
WHERE __gtid % 3 = 0
GROUP BY __op
"""


QUERIES["cdc_binlog_overwrite_rewrite"] = cdc_binlog_overwrite_rewrite
ORACLES["cdc_binlog_overwrite_rewrite"] = _overwrite_rewrite_sql()

# --- round-9 LATE registrations (pinned behind the window; lead round 10) -----


def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per event type (the first step of
    binary segmentation / PELT): over the daily milli-value totals,
    pick the split that maximizes the between-segment sum-of-squares
    gain — argmax_t (S_L·n_R − S_R·n_L)² / (n_L·n_R). The prefix sums
    are exact integers on the days grid (aggregate-then-scan, the
    Theil–Sen shape); the ordering key is computed in doubles from
    integers that stay below 2⁵³ (exact — |S·n| ≤ Σ|milli|·365,
    documented to ~10⁸ rows/type), so both engines rank identical
    keys; ties break on the earlier day. Emits the split plus the
    exact integer evidence (n_L, n_R, diff), not the float gain —
    the Welch sufficient-statistics precedent."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.lit("1970-01-01")
            ).alias("dd"),
        )
        .agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("v"))
    )
    wcum = Window.partitionBy("event_type").orderBy("dd").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wrank = Window.partitionBy("event_type").orderBy("dd").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = daily.select(
        "event_type",
        "dd",
        F.sum("v").over(wcum).alias("sl"),
        F.count("*").over(wcum).alias("nl"),
        F.sum("v").over(wrank).alias("s"),
        F.count("*").over(wrank).alias("n"),
    ).filter(F.col("nl") < F.col("n"))
    scored = pre.select(
        "event_type",
        "dd",
        "nl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (
            F.col("sl") * (F.col("n") - F.col("nl"))
            - (F.col("s") - F.col("sl")) * F.col("nl")
        ).alias("diff"),
    ).withColumn(
        "key",
        F.col("diff").cast("double")
        * F.col("diff").cast("double")
        / (F.col("nl") * F.col("nr")),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.col("key").desc(), F.col("dd")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dd").alias("split_dd"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.col("diff").cast("long").alias("diff"),
        )
        .orderBy("event_type")
    )


TS_CHANGEPOINT_BINSEG_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01' AS dd,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), pre AS (
  SELECT event_type, dd,
         CAST(sum(v) OVER (PARTITION BY event_type ORDER BY dd
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
         CAST(count(*) OVER (PARTITION BY event_type ORDER BY dd
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
         CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily
), scored AS (
  SELECT event_type, dd, nl, n - nl AS nr,
         sl * (n - nl) - (s - sl) * nl AS diff,
         CAST(sl * (n - nl) - (s - sl) * nl AS DOUBLE)
           * CAST(sl * (n - nl) - (s - sl) * nl AS DOUBLE)
           / (nl * (n - nl)) AS key
  FROM pre WHERE nl < n
), best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY key DESC, dd) AS rn
  FROM scored
)
SELECT event_type, dd AS split_dd,
       CAST(nl AS BIGINT) AS n_left,
       CAST(nr AS BIGINT) AS n_right,
       CAST(diff AS BIGINT) AS diff
FROM best WHERE rn = 1
ORDER BY event_type
"""

QUERIES["ts_changepoint_binseg"] = ts_changepoint_binseg
ORACLES["ts_changepoint_binseg"] = TS_CHANGEPOINT_BINSEG_SQL


def sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT — the sixth SQL surface entry (after views, pipe
    syntax, GROUP BY ALL, parameterized, scripting): order cents
    pivoted status-per-column by priority through Spark's native
    PIVOT clause; the oracle is the de-sugared FILTER aggregation, so
    the rewrite Spark applies (pivot → aggregate with conditional
    projections — one pass, map-side combinable, never a per-column
    self-join) must resolve to exactly the manual plan's values."""
    from mysql_cdc_table_spark.operators.extras import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT prio, coalesce(so, 0) AS o_cents,
               coalesce(sf, 0) AS f_cents,
               coalesce(sp, 0) AS p_cents
        FROM (
          SELECT o_orderpriority AS prio, o_orderstatus AS s,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS c
          FROM orders
        )
        PIVOT (
          sum(c) FOR s IN ('O' AS so, 'F' AS sf, 'P' AS sp)
        )
        ORDER BY prio
        """
    )


SQL_PIVOT_SQL = """
SELECT o_orderpriority AS prio,
       CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS o_cents,
       CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS f_cents,
       CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT) AS p_cents
FROM orders
GROUP BY o_orderpriority
ORDER BY prio
"""

QUERIES["sql_pivot"] = sql_pivot
ORACLES["sql_pivot"] = SQL_PIVOT_SQL

EMB_DIM9 = 64       # embeddings table dimension (TESTDATA.md)
COS_SAMPLE_MOD = 10  # deterministic 1/10 sample for the pair grid


def emb_cosine_histogram(
    spark: SparkSession, sf_dir: str, sample_mod: int = COS_SAMPLE_MOD
) -> DataFrame:
    """Pairwise-cosine distribution over a deterministic embedding
    sample — the corpus-health diagnostic that catches embedding
    collapse (mass near 1.0) or a broken normalizer before a dedup or
    ANN job trusts the space. A 1/sample_mod content-addressed
    sample (vec_id % MOD — the corpus_hash_sample discipline, no RNG)
    bounds the pair grid to (n/MOD)²/2; each pair's dot product is the
    SEQUENTIAL zip_with/aggregate fold both engines replay elementwise
    (dims 1..64 in order, float→double casts exact), so the cosine is
    bit-identical and the e2-floored bucket counts are exact integers.
    ``sample_mod`` IS the production scale knob: a pairwise histogram
    is inherently quadratic in the sample, so set MOD ∝ √N to hold
    the pair grid (n/MOD)²/2 constant as the corpus grows
    (SCALE.md §cosine-histogram). The registry key pins the default
    for oracle-hash stability; the histogram itself is ≤201 buckets."""
    e = t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % sample_mod == 0
    )
    sq = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") * x.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    s = e.select("vec_id", "embedding", F.sqrt(sq).alias("nrm"))
    a, b = s.alias("a"), s.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.floor(
            F.lit(100.0) * dot / (F.col("a.nrm") * F.col("b.nrm"))
        )
        .cast("long")
        .alias("cos_e2")
    )
    return (
        pairs.groupBy("cos_e2")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("cos_e2")
    )


EMB_COSINE_HISTOGRAM_SQL = f"""
WITH s AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, {EMB_DIM9}),
               i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE))),
           (acc, x) -> acc + x)) AS nrm
  FROM embeddings WHERE vec_id % {COS_SAMPLE_MOD} = 0
), pairs AS (
  SELECT CAST(floor(100.0 * list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, {EMB_DIM9}),
               i -> CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE))),
           (acc, x) -> acc + x) / (a.nrm * b.nrm)) AS BIGINT) AS cos_e2
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT cos_e2, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY cos_e2 ORDER BY cos_e2
"""

QUERIES["emb_cosine_histogram"] = emb_cosine_histogram
ORACLES["emb_cosine_histogram"] = EMB_COSINE_HISTOGRAM_SQL


def cdc_binlog_gno_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GTID continuity audit over a REAL binlog series — the
    replication-health check a DBA runs before trusting a restored
    archive: stage the changelog through the sink, decode it back, and
    account for every gno WITHOUT any global sort or window. Presence
    stats are plain aggregates (min/max/count → missing = span −
    present); gap RUNS are counted by a shifted ANTI-JOIN (a present
    gno whose successor is absent starts a run; the max gno is
    discounted) — hash joins end to end, fully distributed at any
    scale. The oracle audits the changelog CTE directly, so a reader
    that loses or duplicates transactions breaks the hash."""
    import hashlib
    import os
    import tempfile

    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
    )

    register(spark)
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:gnogaps".encode()
    ).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"cdc_gnogaps_binlogs_{tag}")
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
        .save(stage)
    )
    back = mysql_binlog_read(
        spark, stage, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )
    present = back.select(F.col("__gtid").alias("gno")).distinct()
    stats = present.agg(
        F.min("gno").alias("min_gno"),
        F.max("gno").alias("max_gno"),
        F.count("*").alias("n_present"),
    )
    succ = present.select((F.col("gno") + 1).alias("gno"))
    # a hash join whatever the size estimate: the binlog scan reports
    # none, so the planner would otherwise pick a sort-merge join
    run_starts = present.join(
        succ.hint("shuffle_hash"), "gno", "left_anti"
    ).agg(F.count("*").alias("run_ends"))
    return stats.crossJoin(F.broadcast(run_starts)).select(
        "min_gno",
        "max_gno",
        F.col("n_present").cast("long").alias("n_present"),
        (F.col("max_gno") - F.col("min_gno") + 1 - F.col("n_present"))
        .cast("long")
        .alias("n_missing"),
        (F.col("run_ends") - 1).cast("long").alias("gap_runs"),
    )


def _gno_gaps_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
present AS (SELECT DISTINCT __gtid AS gno FROM changelog),
stats AS (
  SELECT CAST(min(gno) AS BIGINT) AS min_gno,
         CAST(max(gno) AS BIGINT) AS max_gno,
         CAST(count(*) AS BIGINT) AS n_present
  FROM present
),
runs AS (
  SELECT CAST(count(*) AS BIGINT) AS run_ends
  FROM present p
  WHERE NOT EXISTS (SELECT 1 FROM present q WHERE q.gno = p.gno + 1)
)
SELECT min_gno, max_gno, n_present,
       CAST(max_gno - min_gno + 1 - n_present AS BIGINT) AS n_missing,
       CAST(run_ends - 1 AS BIGINT) AS gap_runs
FROM stats CROSS JOIN runs
"""


QUERIES["cdc_binlog_gno_gaps"] = cdc_binlog_gno_gaps
ORACLES["cdc_binlog_gno_gaps"] = _gno_gaps_sql()

def corpus_term_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source term enrichment — the corpus-mining question "which
    sources are biased toward this vocabulary?" (topic skew detection
    before mixing sources into a training run). For the fixed 5-term
    probe set: observed document frequency per (source, term) vs the
    count expected under independence (source share × corpus df), and
    the lift. Everything is exact integer counts except the final lift
    — ONE division of exact int64 products, floored to ppm (the
    kappa discipline); expected·e6 is likewise floor(1e6·n_s·df/N).
    Shape: one explode over matching tokens only, three bounded
    aggregates (sources × 5 terms), broadcast everywhere — nothing
    downstream of the scan exceeds the source×term grid."""
    from mysql_cdc_table_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens(F.lower(F.col("text"))).alias("toks")
    )
    hit = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct("toks")).alias("tok"),
    ).filter(F.col("tok").isin(*_BM25_TERMS))
    obs = hit.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("obs_df")
    )
    per_src = d.groupBy("source").agg(F.count("*").cast("long").alias("n_s"))
    corpus = d.agg(F.count("*").cast("long").alias("n_docs"))
    df_tot = hit.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    return (
        obs.join(F.broadcast(per_src), "source")
        .join(F.broadcast(df_tot), "tok")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            F.col("tok").alias("term"),
            "obs_df",
            F.floor(
                F.lit(1_000_000.0)
                * (F.col("n_s") * F.col("df")).cast("double")
                / F.col("n_docs").cast("double")
            )
            .cast("long")
            .alias("expected_e6"),
            F.floor(
                F.lit(1_000_000.0)
                * (F.col("obs_df") * F.col("n_docs")).cast("double")
                / (F.col("n_s") * F.col("df")).cast("double")
            )
            .cast("long")
            .alias("lift_e6"),
        )
        .orderBy("source", "term")
    )


CORPUS_TERM_ENRICHMENT_SQL = """
WITH d AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), hit AS (
  SELECT doc_id, source, tok
  FROM (SELECT doc_id, source, unnest(list_distinct(toks)) AS tok FROM d)
  WHERE tok IN ('join', 'hash', 'scan', 'filter', 'vector')
), obs AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS obs_df
  FROM hit GROUP BY 1, 2
), per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1
), corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
df_tot AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM hit GROUP BY 1
)
SELECT obs.source,
       obs.tok AS term,
       obs.obs_df,
       CAST(floor(1000000.0 * CAST(per_src.n_s * df_tot.df AS DOUBLE)
            / CAST(corpus.n_docs AS DOUBLE)) AS BIGINT) AS expected_e6,
       CAST(floor(1000000.0 * CAST(obs.obs_df * corpus.n_docs AS DOUBLE)
            / CAST(per_src.n_s * df_tot.df AS DOUBLE)) AS BIGINT)
         AS lift_e6
FROM obs
JOIN per_src USING (source)
JOIN df_tot USING (tok)
CROSS JOIN corpus
ORDER BY obs.source, term
"""

QUERIES["corpus_term_enrichment"] = corpus_term_enrichment
ORACLES["corpus_term_enrichment"] = CORPUS_TERM_ENRICHMENT_SQL

# --- agg_mcnemar_paired --------------------------------------------------------


def agg_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes — the A/B question on
    the SAME subjects (did the same users who do A also do B?): for the
    two lexicographically first event types, each user gets the paired
    indicator (saw A, saw B); the statistic depends ONLY on the
    discordant cells b = #(A,¬B), c = #(¬A,B):
    χ² = (|b−c|−1)²/(b+c) (continuity-corrected). Everything is exact
    integer until the single final division, floored to ppm (the kappa
    discipline). Shape: one per-user aggregate (map-side combinable
    max), one 4-cell count — nothing downstream exceeds four rows."""
    e = t(spark, sf_dir, "events")
    two = e.groupBy("event_type").count().orderBy("event_type").limit(2)
    ta, tb = [r["event_type"] for r in two.collect()]
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == ta, 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("event_type") == tb, 1).otherwise(0)).alias("b"),
    )
    cells = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)
        ).cast("long").alias("b_only_a"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)
        ).cast("long").alias("c_only_b"),
    )
    num = (
        (F.abs(F.col("b_only_a") - F.col("c_only_b")) - 1)
        * (F.abs(F.col("b_only_a") - F.col("c_only_b")) - 1)
    )
    return cells.select(
        F.lit(ta).alias("type_a"),
        F.lit(tb).alias("type_b"),
        "n_users",
        "b_only_a",
        "c_only_b",
        F.when(F.col("b_only_a") + F.col("c_only_b") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.lit(1_000_000.0)
                * num.cast("double")
                / (F.col("b_only_a") + F.col("c_only_b")).cast("double")
            )
        )
        .cast("long")
        .alias("mcnemar_e6"),
    )


AGG_MCNEMAR_PAIRED_SQL = """
WITH two AS (
  SELECT event_type FROM events GROUP BY 1 ORDER BY 1 LIMIT 2
), named AS (
  SELECT min(event_type) AS ta, max(event_type) AS tb FROM two
), per_user AS (
  SELECT e.user_id,
         max(CASE WHEN e.event_type = n.ta THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN e.event_type = n.tb THEN 1 ELSE 0 END) AS b
  FROM events e CROSS JOIN named n
  GROUP BY 1
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS b_only_a,
         CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_only_b
  FROM per_user
)
SELECT n.ta AS type_a, n.tb AS type_b,
       c.n_users, c.b_only_a, c.c_only_b,
       CAST(CASE WHEN b_only_a + c_only_b = 0 THEN 0
            ELSE floor(1000000.0
              * CAST((abs(b_only_a - c_only_b) - 1)
                     * (abs(b_only_a - c_only_b) - 1) AS DOUBLE)
              / CAST(b_only_a + c_only_b AS DOUBLE)) END AS BIGINT)
         AS mcnemar_e6
FROM cells c CROSS JOIN named n
"""

QUERIES["agg_mcnemar_paired"] = agg_mcnemar_paired
ORACLES["agg_mcnemar_paired"] = AGG_MCNEMAR_PAIRED_SQL


# --- agg_benford_deviation -----------------------------------------------------


def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the classic fabricated-data detector
    over the value column. The digit is extracted EXACTLY (first char
    of the milli-int's decimal string — no log10 near power-of-ten
    boundaries, where a 1-ulp libm divergence would flip the digit);
    Benford's expected share log10(1+1/d) is per-digit (9 cells,
    floored ppm), and each digit's χ² contribution is one fixed-order
    IEEE expression over exact counts, floored. One map-side count per
    digit; the result is 9 rows at any input size."""
    e = t(spark, sf_dir, "events").select(
        F.substring(
            F.floor(F.col("value") * 1000).cast("long").cast("string"), 1, 1
        ).cast("int").alias("d")
    ).filter(F.col("d") >= 1)
    counts = e.groupBy("d").agg(F.count("*").cast("long").alias("obs"))
    tot = counts.agg(F.sum("obs").cast("long").alias("n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "obs",
            "n",
            F.floor(
                F.lit(1_000_000.0) * F.log10(1 + 1 / F.col("d"))
            ).cast("long").alias("benford_e6"),
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.col("obs").cast("double")
                    - F.col("n") * F.log10(1 + 1 / F.col("d"))
                )
                * (
                    F.col("obs").cast("double")
                    - F.col("n") * F.log10(1 + 1 / F.col("d"))
                )
                / (F.col("n") * F.log10(1 + 1 / F.col("d")))
            ).cast("long").alias("chi2_term_e6"),
        )
        .orderBy("d")
    )


AGG_BENFORD_DEVIATION_SQL = """
WITH e AS (
  SELECT CAST(substr(CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR),
              1, 1) AS INTEGER) AS d
  FROM events
), f AS (SELECT d FROM e WHERE d >= 1),
counts AS (
  SELECT d, CAST(count(*) AS BIGINT) AS obs FROM f GROUP BY 1
), tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM counts)
SELECT c.d, c.obs, t.n,
       CAST(floor(1000000.0 * log10(1 + 1 / c.d)) AS BIGINT)
         AS benford_e6,
       CAST(floor(1000000.0
            * (CAST(c.obs AS DOUBLE) - t.n * log10(1 + 1 / c.d))
            * (CAST(c.obs AS DOUBLE) - t.n * log10(1 + 1 / c.d))
            / (t.n * log10(1 + 1 / c.d))) AS BIGINT) AS chi2_term_e6
FROM counts c CROSS JOIN tot t
ORDER BY c.d
"""

QUERIES["agg_benford_deviation"] = agg_benford_deviation
ORACLES["agg_benford_deviation"] = AGG_BENFORD_DEVIATION_SQL

# --- ts_ljung_box ---------------------------------------------------------------

LB_LAGS = (1, 2, 3, 4, 5)


def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per event type — "is this series
    white noise?" over the daily totals, the standard residual
    diagnostic after any of the repo's trend fits (Holt, Theil–Sen,
    changepoint). Centered products are made EXACT by scaling out the
    rational mean: u_t = n·x_t − Σx (integers), so the lag-k
    autocovariance C_k = Σ u_t·u_{t+k} and C_0 = Σ u_t² are exact —
    summed as DECIMAL(38,0)/HUGEINT (u² ~ 10¹⁷ at sf0.1 already
    outgrows int64) and EMITTED as digit strings. r_k = C_k/C_0 and
    Q = n(n+2)·Σ r_k²/(n−k) are a fixed-order IEEE chain over those
    exact integers, floored to e6. Shape: the series is the DAILY grid
    (aggregate-then-window, days-bounded per type); five lag columns
    ride one sort."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("1970-01-01")
        ).alias("dd"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("v"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").alias("s"),
    )
    u = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dd",
            "n",
            (F.col("n") * F.col("v") - F.col("s")).alias("u"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("dd")
    lagged = u.select(
        "event_type",
        "n",
        "u",
        *[F.lag("u", k).over(w).alias(f"l{k}") for k in LB_LAGS],
    )
    dec = "decimal(38,0)"
    aggs = [
        F.sum(F.col("u").cast(dec) * F.col("u")).alias("c0"),
    ] + [
        F.sum(F.col(f"l{k}").cast(dec) * F.col("u")).alias(f"c{k}")
        for k in LB_LAGS
    ]
    stats = lagged.groupBy("event_type", "n").agg(*aggs)
    r = {
        k: F.col(f"c{k}").cast("double") / F.col("c0").cast("double")
        for k in LB_LAGS
    }
    q_sum = None
    for k in LB_LAGS:
        term = r[k] * r[k] / (F.col("n") - k)
        q_sum = term if q_sum is None else q_sum + term
    return stats.select(
        "event_type",
        F.col("n").alias("n_days"),
        *[F.col(f"c{k}").cast("string").alias(f"c{k}") for k in (0, *LB_LAGS)],
        F.floor(
            F.lit(1_000_000.0)
            * (F.col("n") * (F.col("n") + 2)).cast("double")
            * q_sum
        )
        .cast("long")
        .alias("q_e6"),
    ).orderBy("event_type")


def _ljung_box_sql() -> str:
    lag_cols = ",\n         ".join(
        f"lag(u, {k}) OVER (PARTITION BY event_type ORDER BY dd) AS l{k}"
        for k in LB_LAGS
    )
    c_aggs = ",\n         ".join(
        f"sum(CAST(l{k} AS HUGEINT) * u) AS c{k}" for k in LB_LAGS
    )
    c_strs = ",\n       ".join(
        f"CAST(c{k} AS VARCHAR) AS c{k}" for k in (0, *LB_LAGS)
    )
    q_terms = " + ".join(
        f"(CAST(c{k} AS DOUBLE) / CAST(c0 AS DOUBLE))"
        f" * (CAST(c{k} AS DOUBLE) / CAST(c0 AS DOUBLE)) / (n - {k})"
        for k in LB_LAGS
    )
    return f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01' AS dd,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s
  FROM daily GROUP BY 1
), u AS (
  SELECT d.event_type, d.dd, t.n, t.n * d.v - t.s AS u
  FROM daily d JOIN tot t USING (event_type)
), lagged AS (
  SELECT event_type, n, u,
         {lag_cols}
  FROM u
), stats AS (
  SELECT event_type, n,
         sum(CAST(u AS HUGEINT) * u) AS c0,
         {c_aggs}
  FROM lagged GROUP BY 1, 2
)
SELECT event_type,
       n AS n_days,
       {c_strs},
       CAST(floor(1000000.0 * CAST(n * (n + 2) AS DOUBLE)
            * ({q_terms})) AS BIGINT) AS q_e6
FROM stats
ORDER BY event_type
"""


QUERIES["ts_ljung_box"] = ts_ljung_box
ORACLES["ts_ljung_box"] = _ljung_box_sql()
