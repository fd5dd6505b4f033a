"""Round-12 operators.

This round (round-11 verdict asks 2, 3, 7):
- FULL-OUTER watermarked stream-stream join
  (``stream_stream_full_outer``) — the last missing streaming join
  mode next to the r10 inner/left-outer pair;
- STREAMING IVM (``cdc_ivm_streaming_view``): the two-sided join-view
  of ``cdc_ivm_join_view_bidi`` maintained across micro-batches via
  ``foreachBatch`` over a multiplexed fact+dim CDC feed, with a
  versioned exactly-once state store (checkpointed; restart- and
  replay-tested in tests/test_round12.py);
- the persisted-IVF probe path lands in
  ``functions/similarity.py::ann_ivf_persisted_topk`` (train-once /
  probe-many, codebook + cid-partitioned postings round-trip storage).

Later waves of the same round (each landed with oracle + pytest +
sf1 row before being listed here):
- CDC-maintained ANN index, batch (``ann_ivf_upsert_topk``) and
  stream-manifest (``ann_ivf_stream_upsert_topk``) variants; the
  maintained LSH dedup index lands in ``functions/dedup.py``;
  maintained per-label vector stats (``emb_label_stats_ivm``);
- the IVM aggregate ALGEBRA off the signed-fold support table:
  MIN/MAX (``cdc_ivm_minmax_view``), top-k (``cdc_ivm_topk_view``),
  and the holistic median/mode (``cdc_ivm_median_view`` /
  ``cdc_ivm_mode_view``); the support table itself stream-maintained
  (``cdc_ivm_streaming_minmax`` — one store, four readouts);
- snapshot-isolation TIME TRAVEL over the versioned view store
  (``cdc_ivm_view_time_travel``, retain=None + pinned-version read);
- drift scores: fixed-grid PSI (``agg_psi_drift``), per-source
  Jensen-Shannon (``agg_js_divergence``), Cramér–von Mises
  (``agg_cvm_two_sample``);
- Holt-Winters additive seasonal smoothing (``ts_holt_winters``).

Reference semantics compared against ``/root/reference`` (a read-only
MySQL-binlog storage engine, SURVEY.md §1): every capability here
EXCEEDS the reference — it has no query engine, no streaming, no IVM
(its query surface is delegated to MySQL's executor, binlogdb.cc).
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


# --- full-outer watermarked stream-stream join --------------------------------


def stream_stream_full_outer(
    spark: SparkSession, sf_dir: str, _query_out: list | None = None
) -> DataFrame:
    """FULL-OUTER watermarked stream-stream join — both sides must
    emit their unmatched rows WITH NULLS exactly once, each only when
    the watermark proves no partner can still arrive (left state
    settles at l.ts + 1h, right state at r.ts). Same staged
    two-files-per-side feed as the inner/left-outer keys
    (maxFilesPerTrigger=1 forces multi-batch state), 1-minute
    watermark so the availableNow final flush resolves everything
    below the horizon. The readout keeps only rows whose EXISTING
    side(s) sit below 2024-01-28 — at least two days below the final
    watermark minus the join window at every sf — so matched,
    left-only, and right-only statuses are all deterministically
    settled; the oracle is the equivalent batch FULL JOIN under the
    same cutoff. Early nulls (phantom unmatched), missing right-side
    evictions, or a double emission on either side's eviction break
    the hash. Scale: BOTH sides' state is watermark-bounded — the
    two-sided eviction being tested is what caps state on two
    unbounded 100 TB/day feeds."""
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
        f"{spark.sparkContext.applicationId}:{sf_dir}:ssfull".encode()
    ).hexdigest()[:12]
    stages = {}
    for side, df in sides.items():
        stage = os.path.join(
            tempfile.gettempdir(), f"stream_ssfull_{side}_{tag}"
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
        "fullOuter",
    )
    mem = f"ssfull_{uuid.uuid4().hex[:12]}"
    with stream_state_partitions(spark):
        q = run_to_completion(
            joined.select(
                F.col("l.ts").alias("lts"),
                F.col("r.ts").alias("rts"),
                F.coalesce(F.col("l.event_type"), F.col("r.event_type")).alias(
                    "etype"
                ),
                F.col("l.vm").alias("lvm"),
                F.col("r.vm").alias("rvm"),
            )
            .writeStream.format("memory")
            .queryName(mem)
        )
    if _query_out is not None:
        _query_out.append(q)
    cutoff = F.lit("2024-01-28 00:00:00").cast("timestamp")
    settled = (F.col("lts").isNull() | (F.col("lts") < cutoff)) & (
        F.col("rts").isNull() | (F.col("rts") < cutoff)
    )
    return (
        spark.table(mem)
        .filter(settled)
        .groupBy(
            "etype",
            F.col("lvm").isNull().alias("left_null"),
            F.col("rvm").isNull().alias("right_null"),
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.coalesce("lvm", F.lit(0)) + F.coalesce("rvm", F.lit(0)))
            .cast("long")
            .alias("milli_sum"),
        )
        .orderBy("etype", "left_null", "right_null")
    )


STREAM_STREAM_FULL_OUTER_SQL = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events
), l AS (SELECT * FROM e WHERE event_id % 4 = 0),
   r AS (SELECT * FROM e WHERE event_id % 4 = 1)
SELECT coalesce(l.event_type, r.event_type) AS etype,
       (l.vm IS NULL) AS left_null,
       (r.vm IS NULL) AS right_null,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(coalesce(l.vm, 0) + coalesce(r.vm, 0)) AS BIGINT)
         AS milli_sum
FROM l FULL JOIN r ON l.user_id = r.user_id
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
WHERE (l.ts IS NULL OR l.ts < TIMESTAMP '2024-01-28 00:00:00')
  AND (r.ts IS NULL OR r.ts < TIMESTAMP '2024-01-28 00:00:00')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

QUERIES["stream_stream_full_outer"] = stream_stream_full_outer
ORACLES["stream_stream_full_outer"] = STREAM_STREAM_FULL_OUTER_SQL


# --- streaming IVM: the bidi join view maintained by foreachBatch -------------
#
# cdc_ivm_join_view_bidi (round 11) proves the bilinear delta rule in a
# two-epoch batch decomposition. This key runs the SAME algebra as a
# live pipeline: one multiplexed CDC feed (fact deltas and dim deltas
# interleaved, the Debezium one-topic-per-server shape), consumed in
# micro-batches by foreachBatch; per batch
#
#     ΔV = ΔL ⋈ R_new + L_old ⋈ ΔR      (R_new = R_old + ΔR)
#
# and the three stores advance L += ΔL, R += ΔR, V += ΔV. Summed over
# any batch partition of the feed, every (ΔL_i, ΔR_j) pair contributes
# exactly once (i<=j through ΔL⋈R_new, i>j through L_old⋈ΔR), so the
# final V equals the one-shot bilinear form REGARDLESS of how the feed
# is chopped into batches — which is what makes the staging here safe:
# batch composition is whatever file order the source picks.
#
# Exactly-once: each batch writes a complete new state version to a
# staging dir and RENAMES it to state/v<batch_id> (atomic on HDFS) —
# a replayed batch finds its version already present and skips. One
# rename commits all three stores together, so there is no torn state.


_IVM_STATE_SCHEMAS = {
    "L": "o_custkey bigint, dn bigint, dcents bigint",
    "R": "o_custkey bigint, c_nationkey bigint, rn bigint",
    "V": "c_nationkey bigint, n_rows bigint, cents_sum bigint",
}


def multiplexed_ivm_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two CDC changelogs of the bidi view multiplexed into ONE
    feed (feed='L' fact deltas / feed='R' dim deltas), each row already
    reduced to its signed contribution — the shape a single CDC topic
    carries. Exact integer arithmetic only (cents = floor(price*100))
    so the accumulated view hashes identically to the batch oracle."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog
    from mysql_cdc_table_spark.operators.round11 import _dim_changelog

    cl = synthetic_changelog(spark, sf_dir)
    sgn = F.when(F.col("__op").isin(1, 3), F.lit(1)).otherwise(F.lit(-1))
    fact = cl.select(
        F.lit("L").alias("feed"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.lit(None).cast("long").alias("c_nationkey"),
        sgn.cast("long").alias("sgn"),
        (sgn * F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "dcents"
        ),
    )
    dim = _dim_changelog(spark, sf_dir)
    rsgn = F.when(F.col("__op").isin(1, 3), F.lit(1)).otherwise(F.lit(-1))
    dimf = dim.select(
        F.lit("R").alias("feed"),
        F.col("c_custkey").cast("long").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        rsgn.cast("long").alias("sgn"),
        F.lit(0).cast("long").alias("dcents"),
    )
    return fact.unionByName(dimf)


def _ivm_versions(spark: SparkSession, state_dir: str) -> list[int]:
    if not _hfs.exists(spark, state_dir):
        return []
    return sorted(
        int(n[1:])
        for n in _hfs.list_names(spark, state_dir)
        if n.startswith("v") and n[1:].isdigit()
    )


def _ivm_read_state(
    spark: SparkSession, state_dir: str, version: int | None = None
):
    """(L, R, V) DataFrames of the newest committed version (or the
    pinned ``version`` — time travel) — empty relations before the
    first batch."""
    vs = _ivm_versions(spark, state_dir)
    if version is not None:
        if version not in vs:
            raise ValueError(
                f"version v{version} not retained in {state_dir}; "
                f"have {vs} (run the stream with retain=None to keep all)"
            )
        vs = [version]
    if not vs:
        return {
            name: spark.createDataFrame([], schema)
            for name, schema in _IVM_STATE_SCHEMAS.items()
        }
    base = f"{state_dir}/v{vs[-1]}"
    return {
        name: spark.read.schema(schema).parquet(f"{base}/{name}")
        for name, schema in _IVM_STATE_SCHEMAS.items()
    }


def _commit_version(
    spark: SparkSession, state_dir: str, batch_id: int,
    stores: dict, retain: int | None,
) -> None:
    """The shared exactly-once commit of a versioned state store:
    write every named store to one staging dir, then ONE atomic rename
    to v<batch_id> (a concurrent/replayed committer loses the rename
    and finds the version present), then retire versions beyond the
    retention window. retain=None keeps every version — the
    time-travel policy (cdc_ivm_view_time_travel); production would
    bound it by count or age exactly like a table format's snapshot
    expiry. retain=2 (default at call sites) is the exactly-once
    replay window: Structured Streaming only ever re-asks for the
    LAST batch."""
    import uuid

    staging = f"{state_dir}/.staging-{uuid.uuid4().hex[:12]}"
    for name, df in stores.items():
        df.write.mode("overwrite").parquet(f"{staging}/{name}")
    try:
        _hfs.rename(spark, staging, f"{state_dir}/v{batch_id}")
    except Exception:
        _hfs.delete(spark, staging)
        if not _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
            raise
    if retain is not None:
        for v in _ivm_versions(spark, state_dir)[:-retain]:
            _hfs.delete(spark, f"{state_dir}/v{v}")


def ivm_apply_batch(
    spark: SparkSession, batch_df: DataFrame, state_dir: str, batch_id: int,
    retain: int | None = 2,
) -> None:
    """One micro-batch of the bilinear maintenance — the foreachBatch
    body. Idempotent: if v<batch_id> is already committed the replay
    returns without touching state (Structured Streaming replays the
    last batch after a crash; the version rename is the commit)."""
    if _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
        return  # replayed batch: already committed
    state = _ivm_read_state(spark, state_dir)

    def fold_l(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.sum("dn").cast("long").alias("dn"),
            F.sum("dcents").cast("long").alias("dcents"),
        )

    dl = fold_l(
        batch_df.filter(F.col("feed") == "L").select(
            "o_custkey",
            F.col("sgn").alias("dn"),
            F.col("dcents"),
        )
    ).localCheckpoint(eager=True)  # ΔL feeds two terms + the L update
    dr = (
        batch_df.filter(F.col("feed") == "R")
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum("sgn").cast("long").alias("rn"))
        .localCheckpoint(eager=True)  # ΔR feeds one term + two updates
    )
    r_new = (
        state["R"].unionByName(dr)
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum("rn").cast("long").alias("rn"))
        .localCheckpoint(eager=True)  # the new R is also a delta input
    )

    def term(lf: DataFrame, rf: DataFrame) -> DataFrame:
        return lf.join(F.broadcast(rf), "o_custkey").select(
            "c_nationkey",
            (F.col("rn") * F.col("dn")).alias("wn"),
            (F.col("rn") * F.col("dcents")).alias("wc"),
        )

    dv = (
        term(dl, r_new)
        .unionByName(term(state["L"], dr))
        .groupBy("c_nationkey")
        .agg(
            F.sum("wn").cast("long").alias("n_rows"),
            F.sum("wc").cast("long").alias("cents_sum"),
        )
    )
    new = {
        "L": fold_l(state["L"].unionByName(dl)),
        "R": r_new,
        "V": state["V"]
        .unionByName(dv)
        .groupBy("c_nationkey")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("cents_sum").cast("long").alias("cents_sum"),
        ),
    }
    _commit_version(spark, state_dir, batch_id, new, retain)


def ivm_view_stream(
    feed_stream: DataFrame, state_dir: str, checkpoint_path: str,
    query_name: str = "cdc_ivm_stream", retain: int | None = 2,
):
    """writeStream wiring of the maintenance — the streaming twin of
    cdc_ivm_join_view_bidi's batch decomposition, same algebra."""
    spark = feed_stream.sparkSession

    def body(batch_df: DataFrame, batch_id: int) -> None:
        ivm_apply_batch(spark, batch_df, state_dir, batch_id, retain=retain)

    return (
        feed_stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .queryName(query_name)
    )


def read_ivm_view(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained view, read from the newest committed version —
    or AS OF a retained ``version`` (snapshot-isolation time travel) —
    live pairs only (n_rows > 0), nations order, the
    cdc_ivm_join_view_bidi readout shape."""
    v = _ivm_read_state(spark, state_dir, version=version)["V"]
    return (
        v.filter(F.col("n_rows") > 0)
        .select("c_nationkey", "n_rows", "cents_sum")
        .orderBy("c_nationkey")
    )


def cdc_ivm_streaming_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bidi join view maintained by a REAL stream: the multiplexed
    feed staged as 4 parquet files, consumed with maxFilesPerTrigger=1
    (so the bilinear rule must hold across >=4 micro-batch seams with
    arbitrary batch composition), foreachBatch advancing the versioned
    L/R/V stores, availableNow to completion — then the view is READ
    BACK from storage. The oracle recomputes the full view from both
    ranked latest states (the cdc_ivm_join_view_bidi oracle verbatim):
    a delta double-applied on replay, a torn multi-store commit, or an
    (i,j) pair counted twice across the batch partition all break the
    per-nation hash. Re-invocation in the same session is a no-op
    resume (checkpoint already drained; state already final) — the
    idempotence is part of what's tested. Restart-after-kill and
    replayed-batch idempotence are additionally pytest-proven
    (tests/test_round12.py). Scale: per batch, ΔL folds map-side to
    its custkey spread, ΔR stays broadcast-sized, V is nations-sized;
    state version commit is one rename regardless of store size."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ivmstream".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"ivm_stream_{tag}")
    feed_dir, state_dir, ckpt = (
        f"{root}/feed", f"{root}/state", f"{root}/ckpt",
    )
    feed = multiplexed_ivm_feed(spark, sf_dir)
    if not _hfs.exists(spark, feed_dir):
        feed.repartition(4).write.mode("overwrite").parquet(feed_dir)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    run_to_completion(ivm_view_stream(stream, state_dir, ckpt))
    return read_ivm_view(spark, state_dir)


def _cdc_ivm_streaming_view_sql() -> str:
    from mysql_cdc_table_spark.operators.round11 import (
        _cdc_ivm_join_view_bidi_sql,
    )

    # the streaming maintenance converges to the SAME view the batch
    # bidi key computes — one oracle, two mechanisms
    return _cdc_ivm_join_view_bidi_sql()


QUERIES["cdc_ivm_streaming_view"] = cdc_ivm_streaming_view
ORACLES["cdc_ivm_streaming_view"] = _cdc_ivm_streaming_view_sql()


# --- CDC-maintained ANN index: the corpus is a vector changelog ----------------
#
# The persisted-IVF path (functions/similarity.py) answers "train once,
# probe many". The next thing a production corpus does is CHANGE: new
# documents arrive, re-embedded documents update, retracted documents
# delete. The production pattern is: the codebook stays FIXED (it
# retrains rarely, offline); the postings follow the feed — each delta
# vector is assigned to its nearest existing centroid (one broadcast
# argmin over the cells x dims grid) and only the touched cid
# partitions of the postings store rewrite. Cost per refresh is
# ∝ delta + touched partitions, never ∝ corpus.


def vector_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic changelog over the embeddings table, the
    exact-arithmetic discipline of cdc/synthetic.py (no RNG, no
    float arithmetic — the update op is an array REVERSAL, an exact
    permutation both engines apply bit-identically):

    - every vector   -> INSERT (__op=1, __gtid=v*10)
    - v%6==3         -> UPDATE (__op=3, __gtid=v*10+4): embedding
                        reversed (a re-embedding that moves the vector)
    - v%9==5         -> DELETE (__op=0, __gtid=v*10+7), tombstone

    vec_id 0 (the probe query) is untouched by construction."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    v = F.col("vec_id")

    def ev(df, emb, op: int, gtid_off: int) -> DataFrame:
        return df.select(
            "vec_id",
            emb.alias("embedding"),
            "label",
            F.lit(op).cast("int").alias("__op"),
            (v * 10 + gtid_off).cast("long").alias("__gtid"),
        )

    ins = ev(e, F.col("embedding"), 1, 0)
    upd = ev(e.filter(v % 6 == 3), F.reverse("embedding"), 3, 4)
    dele = ev(
        e.filter(v % 9 == 5),
        F.when(v % 6 == 3, F.reverse("embedding")).otherwise(
            F.col("embedding")
        ),
        0,
        7,
    )
    return ins.unionByName(upd).unionByName(dele)


VECTOR_ALIVE_CTE = """
alive AS (
  SELECT vec_id,
         CASE WHEN vec_id % 6 = 3 THEN list_reverse(embedding)
              ELSE embedding END AS embedding,
         label
  FROM embeddings
  WHERE vec_id % 9 <> 5
)
"""


def ivf_maintained_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained (vec_id, embedding, label, cid)
    postings: untouched base rows keep their stored assignment; delta
    vectors (updates surviving deletion) re-assign against the FIXED
    loaded codebook with one broadcast argmin; deleted vec_ids drop.
    No window, no re-scan of the unchanged corpus rows' vectors for
    assignment — the incremental contract pytest verifies against the
    from-scratch rebuild."""
    from mysql_cdc_table_spark.functions.similarity import (
        ivf_index_dir,
        load_ivf_index,
        persist_ivf_index,
        sq_dist,
    )
    from mysql_cdc_table_spark.sources import fs as _hfs

    idx = ivf_index_dir(sf_dir)
    if not _hfs.exists(spark, idx):
        persist_ivf_index(spark, sf_dir, idx)
    post, cents = load_ivf_index(spark, idx)

    cl = vector_changelog(spark, sf_dir)
    delta = cl.filter(F.col("__gtid") % 10 != 0)  # the non-insert events
    # latest state per touched key (one max_by, the cdc_latest_state idiom)
    latest = (
        delta.groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(__op, embedding, label), __gtid)"
            ).alias("s")
        )
        .select("vec_id", "s.__op", "s.embedding", "s.label")
    )
    survivors = latest.filter(F.col("__op") != 0).drop("__op")
    assigned = (
        survivors.join(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "label",
            "cid",
            sq_dist(F.col("embedding"), F.col("centroid")).alias("d"),
        )
        .groupBy("vec_id", "embedding", "label")
        .agg(F.expr("min_by(cid, struct(d, cid))").alias("cid"))
    )
    touched = latest.select("vec_id")
    kept = post.join(F.broadcast(touched), "vec_id", "left_anti").select(
        "vec_id", "embedding", "label", F.col("cid").cast("int").alias("cid")
    )
    return kept.unionByName(
        assigned.select(
            "vec_id", "embedding", "label", F.col("cid").cast("int").alias("cid")
        )
    )


def refresh_ivf_postings(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> list[int]:
    """Apply the changelog to an ON-DISK postings store, rewriting ONLY
    the cid partitions the delta touches (dynamic partition overwrite —
    the keyed-upsert-store discipline of streaming/cdc_stream.py).
    Returns the touched cid list (bounded by |cells|). A partition no
    delta reaches is never read or written — the property that makes
    index refresh affordable when the corpus is 100 TB but the day's
    delta is not."""
    from mysql_cdc_table_spark.functions.similarity import (
        ivf_index_dir,
        load_ivf_index,
        persist_ivf_index,
    )
    from mysql_cdc_table_spark.sources import fs as _hfs

    idx = ivf_index_dir(sf_dir)
    if not _hfs.exists(spark, idx):
        persist_ivf_index(spark, sf_dir, idx)
    if not _hfs.exists(spark, store_dir):
        # seed the maintained store from the base index (one-time copy)
        base, _ = load_ivf_index(spark, idx)
        base.select(
            "vec_id", "embedding", "label", F.col("cid").cast("int").alias("cid")
        ).write.partitionBy("cid").mode("overwrite").parquet(store_dir)

    maint = ivf_maintained_postings(spark, sf_dir)
    cl = vector_changelog(spark, sf_dir)
    touched_ids = (
        cl.filter(F.col("__gtid") % 10 != 0).select("vec_id").distinct()
    )
    store = spark.read.parquet(store_dir)
    # touched partitions = cells that currently HOLD a touched key
    # (rows to remove) ∪ cells a surviving delta row lands in
    old_cells = store.join(F.broadcast(touched_ids), "vec_id").select("cid")
    new_cells = maint.join(F.broadcast(touched_ids), "vec_id").select("cid")
    touched_cids = sorted(
        r["cid"]
        for r in old_cells.union(new_cells).distinct().collect()
    )  # bounded by |cells| — a tiny driver list, not data
    if touched_cids:
        (
            maint.filter(F.col("cid").isin(touched_cids))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cid")
            .parquet(store_dir)
        )
    return touched_cids


def ann_ivf_upsert_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """ANN search over the CDC-MAINTAINED index: the vector changelog
    applied incrementally to the persisted postings (fixed codebook,
    broadcast argmin for delta rows only), then the standard n_probe
    cell probe. Registry output follows the recall-bound convention of
    the IVF tiers: the EXACT top-k over the upserted corpus (computed
    independently from the embeddings table + changelog, never from
    the index under test) plus a boolean asserting the maintained
    index recovered >= floor of them (floor 0.25 = 5 of 20; driver-
    and sweep-verified green at sf0.001/0.01/0.1 under both the
    original fixed-nlist sizing and round 13's derived sizing —
    nlist ~ sqrt(N), n_probe ~ sqrt(nlist)). An assignment regression
    (delta rows landing
    in wrong cells, deletes surviving, stale pre-update vectors
    lingering) collapses recall and turns the row red; the exact rows
    also hash the changelog semantics themselves."""
    import math

    from mysql_cdc_table_spark.functions.similarity import (
        cosine,
        default_nprobe,
        ivf_index_dir,
        load_ivf_index,
        sq_dist,
    )

    e = t(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    # the upserted corpus, derived independently of the index
    alive = e.filter(~(v % 9 == 5)).withColumn(
        "embedding",
        F.when(v % 6 == 3, F.reverse("embedding")).otherwise(
            F.col("embedding")
        ),
    )
    q = alive.filter(v == 0).select(F.col("embedding").alias("qv"))
    exact = (
        alive.filter(v != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (
                F.round(cosine(F.col("embedding"), F.col("qv")), 6)
                + F.lit(0.0)
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
        .localCheckpoint(eager=False)  # feeds the rows AND the recall agg
    )

    maint = ivf_maintained_postings(spark, sf_dir)
    _, cents = load_ivf_index(spark, ivf_index_dir(sf_dir))
    probe_cids = [
        r["cid"]
        for r in cents.join(F.broadcast(q))
        .select("cid", sq_dist(F.col("centroid"), F.col("qv")).alias("d"))
        .orderBy(F.col("d").asc(), F.col("cid"))
        .limit(default_nprobe(cents.count()))
        .collect()
    ]
    approx = (
        maint.filter(F.col("cid").isin(probe_cids))
        .filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("qv")).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
        .select("vec_id")
        .distinct()
    )
    need = math.ceil(0.25 * k)
    ok = (
        exact.select("vec_id")
        .join(approx, "vec_id")
        .agg((F.count("*") >= need).alias("recall_ok"))
    )
    return exact.join(F.broadcast(ok))


_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_SQNORM = (
    "list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)

ANN_IVF_UPSERT_TOPK_SQL = f"""
WITH {VECTOR_ALIVE_CTE},
q AS (SELECT embedding AS qv FROM alive WHERE vec_id = 0)
SELECT vec_id, label,
       round({_SQL_DOT.format(a='embedding', b='qv')}
             / (sqrt({_SQL_SQNORM.format(a='embedding')})
                * sqrt({_SQL_SQNORM.format(a='qv')})), 6) + 0.0 AS cos,
       TRUE AS recall_ok
FROM alive, q
WHERE vec_id <> 0
ORDER BY cos DESC, vec_id
LIMIT 20
"""

QUERIES["ann_ivf_upsert_topk"] = ann_ivf_upsert_topk
ORACLES["ann_ivf_upsert_topk"] = ANN_IVF_UPSERT_TOPK_SQL


# --- streaming ANN index refresh: the manifest-committed vector store ---------
#
# ann_ivf_upsert_topk applies the vector changelog in one shot;
# refresh_ivf_postings rewrites touched partitions in place. A LIVE
# pipeline needs both properties AT ONCE under a stream: per-batch
# cost ∝ delta + touched cells, exactly-once across crash/replay, and
# readers never seeing a torn index. The store here is the minimal
# re-expression of the table-format answer (Iceberg/Delta-style,
# public design): immutable cell files + a tiny versioned MANIFEST
# (cid -> file dir) committed with ONE atomic rename per micro-batch.
# Untouched cells carry across versions BY POINTER — their bytes are
# never read, never rewritten. Readers pin a manifest version and get
# a consistent snapshot for free.
#
# Locating the OLD cell of an updated/deleted vector costs ZERO
# lookups: binlog ROW update/delete events carry the BEFORE image
# (the repo's update-unnest surface, cdc/source.py), and the v2
# persisted-index invariant says stored cell == argmin(stored
# embedding, codebook) — so old cell = argmin(before_image). The
# 100 TB shape: no key->cell side index, no corpus scan; each batch
# touches |delta| rows + at most |cells| manifest entries.

_VEC_CELL_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def vector_changelog_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vector_changelog with BOTH row images (the binlog ROW format's
    update/delete payload): (vec_id, before_emb, after_emb, label,
    __op, __gtid). Image chaining holds per key — an event's
    before_emb equals the previous event's after_emb — exactly what a
    real binlog guarantees and what lets the consumer locate the old
    cell without any lookup."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    v = F.col("vec_id")
    null_emb = F.lit(None).cast("array<float>")
    ins = e.select(
        "vec_id",
        null_emb.alias("before_emb"),
        F.col("embedding").alias("after_emb"),
        "label",
        F.lit(1).alias("__op"),
        (v * 10).cast("long").alias("__gtid"),
    )
    upd = e.filter(v % 6 == 3).select(
        "vec_id",
        F.col("embedding").alias("before_emb"),
        F.reverse("embedding").alias("after_emb"),
        "label",
        F.lit(3).alias("__op"),
        (v * 10 + 4).cast("long").alias("__gtid"),
    )
    cur = F.when(v % 6 == 3, F.reverse("embedding")).otherwise(
        F.col("embedding")
    )
    dele = e.filter(v % 9 == 5).select(
        "vec_id",
        cur.alias("before_emb"),
        null_emb.alias("after_emb"),
        "label",
        F.lit(0).alias("__op"),
        (v * 10 + 7).cast("long").alias("__gtid"),
    )
    return ins.unionByName(upd).unionByName(dele)


def stage_ordered_chunks(
    spark: SparkSession, df: DataFrame, order_col: str, n: int,
    feed_dir: str, bounds: list | None = None,
) -> None:
    """Stage ``df`` as ``n`` files in ``feed_dir`` that a parquet
    FileStreamSource consumes IN ORDER of ``order_col`` ranges — the
    CDC-topic shape (a binlog tail is consumed in log order; arbitrary
    file chop would break per-key image chaining). Chunk bounds come
    from approxQuantile (a bounded <=n-1 driver list); each chunk is
    renamed to a zero-padded name written sequentially, so both the
    source's mtime sort and its path tiebreak agree with feed order.
    Fixture staging only — a real deployment points the stream at the
    binlog tail (sources/mysql_binlog.py) or a topic."""
    if _hfs.exists(spark, feed_dir):
        return
    if bounds is None:
        # bounds may also be passed EXPLICITLY (n-1 upper bounds) when
        # the chop must be SQL-reproducible — the time-travel key cuts
        # on custkey % n so an oracle can recompute any prefix
        qs = [i / n for i in range(1, n)]
        bounds = df.stat.approxQuantile(order_col, qs, 0.0) if qs else []
    lo = [None] + bounds
    hi = bounds + [None]
    staging = f"{feed_dir}.staging"
    _hfs.delete(spark, staging)
    c = F.col(order_col)
    for i, (a, b) in enumerate(zip(lo, hi)):
        cond = F.lit(True) if a is None else (c > F.lit(a))
        if b is not None:
            cond = cond & (c <= F.lit(b))
        tmp = f"{staging}/chunk{i}"
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            nm for nm in _hfs.list_names(spark, tmp)
            if nm.endswith(".parquet")
        )
        _hfs.rename(
            spark, f"{tmp}/{part}", f"{staging}/{i:04d}.parquet"
        )
        _hfs.delete(spark, tmp)
    _hfs.rename(spark, staging, feed_dir)


def _manifest_versions(spark: SparkSession, store_dir: str) -> list[int]:
    return sorted(
        int(nm[1:])
        for nm in _hfs.list_names(spark, f"{store_dir}/manifests")
        if nm.startswith("v") and nm[1:].isdigit()
    )


def _read_manifest(spark: SparkSession, store_dir: str) -> dict[int, str]:
    """cid -> cell-dir ref of the newest committed manifest ({} before
    the first commit). Cells-sized — a bounded driver dict by design
    (nlist grows as sqrt(corpus), and the manifest is the index's
    metadata plane, not its data plane)."""
    vs = _manifest_versions(spark, store_dir)
    if not vs:
        return {}
    rows = spark.read.parquet(
        f"{store_dir}/manifests/v{vs[-1]}"
    ).collect()
    return {r["cid"]: r["ref"] for r in rows}


def read_vec_index(
    spark: SparkSession, store_dir: str, cids: list[int] | None = None,
) -> DataFrame:
    """The committed index snapshot: manifest refs -> cell reads, cid
    re-attached from the manifest (files never store it). ``cids``
    prunes to the probed cells — the reader-side twin of the
    partition-filter pushdown in ann_ivf_persisted_topk: unprobed
    cells' FILES are never listed, let alone read."""
    man = _read_manifest(spark, store_dir)
    if cids is not None:
        man = {c: ref for c, ref in man.items() if c in cids}
    parts = [
        spark.read.schema(_VEC_CELL_SCHEMA)
        .parquet(f"{store_dir}/{ref}")
        .withColumn("cid", F.lit(cid).cast("int"))
        for cid, ref in sorted(man.items())
    ]
    if not parts:
        return spark.createDataFrame([], _VEC_CELL_SCHEMA + ", cid int")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def vec_index_apply_batch(
    spark: SparkSession, batch_df: DataFrame, store_dir: str,
    cents: DataFrame, batch_id: int,
) -> None:
    """One micro-batch of index maintenance — the foreachBatch body.

    1. fold the batch per key: EARLIEST before-image (the key's state
       when the batch started), LATEST after-image (its state when
       the batch ends) — an insert+delete inside one batch nets out;
    2. old cell = argmin(earliest before), new cell = argmin(latest
       after), one broadcast of the fixed codebook for both;
    3. rewrite ONLY touched cells: (old rows minus touched keys) ∪
       (new rows landing there), one write job partitioned by cid;
    4. commit: new manifest = old manifest with touched entries
       repointed (empty cells dropped, untouched cells carried by
       pointer), ONE atomic rename. A replayed batch finds its
       manifest version and returns — exactly-once without a log.

    Retains the last 2 manifests (replay only ever re-asks for the
    last batch) and GCs cell dirs no kept manifest references."""
    import uuid

    from mysql_cdc_table_spark.functions.similarity import sq_dist

    if _hfs.exists(spark, f"{store_dir}/manifests/v{batch_id}"):
        return  # replayed batch: already committed
    folded = (
        batch_df.groupBy("vec_id")
        .agg(
            F.expr(
                "min_by(struct(before_emb, label), __gtid)"
            ).alias("first"),
            F.expr(
                "max_by(struct(__op, after_emb, label), __gtid)"
            ).alias("last"),
        )
        .select(
            "vec_id",
            F.col("first.before_emb").alias("before_emb"),
            F.col("last.__op").alias("__op"),
            F.col("last.after_emb").alias("after_emb"),
            F.col("last.label").alias("label"),
        )
        .localCheckpoint(eager=True)  # feeds old-cell, new-cell, rewrite
    )

    def argmin_cells(df: DataFrame, emb: str) -> DataFrame:
        return (
            df.filter(F.col(emb).isNotNull())
            .join(F.broadcast(cents))
            .select(
                "vec_id",
                F.col(emb).alias("embedding"),
                "label",
                "cid",
                sq_dist(F.col(emb), F.col("centroid")).alias("d"),
            )
            .groupBy("vec_id", "embedding", "label")
            .agg(F.expr("min_by(cid, struct(d, cid))").alias("cid"))
        )

    old_cells = argmin_cells(folded, "before_emb").select("vec_id", "cid")
    new_rows = argmin_cells(
        folded.filter(F.col("__op") != 0), "after_emb"
    )
    touched = sorted(
        {
            r["cid"]
            for r in old_cells.select("cid")
            .union(new_rows.select("cid"))
            .distinct()
            .collect()
        }
    )  # bounded by |cells| — manifest-plane metadata, not data
    man = _read_manifest(spark, store_dir)
    cell_uuid = uuid.uuid4().hex[:12]
    if touched:
        keys = folded.select("vec_id")
        content = new_rows.select(
            "vec_id", "embedding", "label", F.col("cid").cast("int").alias("cid")
        )
        kept_cids = [c for c in touched if c in man]
        if kept_cids:
            # ONE anti-join over all touched cells (read_vec_index
            # unions the cell refs with cid attached) — the former
            # per-cell join loop built |touched| broadcast anti-joins
            # per batch, which scaled the plan with the round-13
            # sqrt(N) cell count
            kept = (
                read_vec_index(spark, store_dir, cids=kept_cids)
                .join(F.broadcast(keys), "vec_id", "left_anti")
                .select(
                    "vec_id", "embedding", "label",
                    F.col("cid").cast("int").alias("cid"),
                )
            )
            content = content.unionByName(kept)
        content.write.partitionBy("cid").mode("overwrite").parquet(
            f"{store_dir}/cells/{cell_uuid}"
        )
        written = {
            int(nm.split("=", 1)[1])
            for nm in _hfs.list_names(spark, f"{store_dir}/cells/{cell_uuid}")
            if nm.startswith("cid=")
        }
        for c in touched:
            if c in written:
                man[c] = f"cells/{cell_uuid}/cid={c}"
            else:
                man.pop(c, None)  # cell emptied by deletes
    new_man = spark.createDataFrame(
        [(int(c), ref) for c, ref in sorted(man.items())],
        "cid int, ref string",
    )
    staging = f"{store_dir}/manifests/.staging-{uuid.uuid4().hex[:12]}"
    new_man.coalesce(1).write.mode("overwrite").parquet(staging)
    try:
        _hfs.rename(spark, staging, f"{store_dir}/manifests/v{batch_id}")
    except Exception:
        _hfs.delete(spark, staging)
        if not _hfs.exists(spark, f"{store_dir}/manifests/v{batch_id}"):
            raise
    vs = _manifest_versions(spark, store_dir)
    for v in vs[:-2]:
        _hfs.delete(spark, f"{store_dir}/manifests/v{v}")
    live: set[str] = set()
    for v in _manifest_versions(spark, store_dir):
        for r in spark.read.parquet(f"{store_dir}/manifests/v{v}").collect():
            live.add(r["ref"].split("/")[1])
    for nm in _hfs.list_names(spark, f"{store_dir}/cells"):
        if nm not in live:
            _hfs.delete(spark, f"{store_dir}/cells/{nm}")


def vec_index_stream(
    feed_stream: DataFrame, store_dir: str, cents: DataFrame,
    checkpoint_path: str, query_name: str = "ann_index_stream",
):
    """writeStream wiring of the manifest-committed maintenance."""
    spark = feed_stream.sparkSession

    def body(batch_df: DataFrame, batch_id: int) -> None:
        vec_index_apply_batch(spark, batch_df, store_dir, cents, batch_id)

    return (
        feed_stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .queryName(query_name)
    )


def ann_ivf_stream_upsert_topk(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """ANN search over the STREAM-MAINTAINED index: the image-carrying
    vector changelog staged as 4 gtid-ordered chunks (per-key image
    chaining crosses batch seams), consumed with maxFilesPerTrigger=1
    through foreachBatch against an initially EMPTY store — the
    inserts build the index, the updates move vectors between cells,
    the deletes evict them, each batch committing one manifest
    version. The probe then reads ONLY the n_probe winning cells of
    the final snapshot. Converges to the same alive corpus as
    ann_ivf_upsert_topk — same exact-top-k + recall-floor output,
    same oracle. Re-invocation is a no-op resume (checkpoint drained,
    manifest final). Restart/replay/pointer-carry are pytest-proven
    (tests/test_round12.py). Scale: per batch ∝ delta + touched
    cells; reader cost ∝ probed cells; commit is one rename."""
    import hashlib
    import math
    import os
    import tempfile

    from mysql_cdc_table_spark.functions.similarity import (
        cosine,
        default_nprobe,
        ivf_index_dir,
        load_ivf_index,
        persist_ivf_index,
        sq_dist,
    )

    idx = ivf_index_dir(sf_dir)
    if not _hfs.exists(spark, idx):
        persist_ivf_index(spark, sf_dir, idx)
    _, cents = load_ivf_index(spark, idx)

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:annstream".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"ann_stream_{tag}")
    feed_dir, store_dir, ckpt = (
        f"{root}/feed", f"{root}/store", f"{root}/ckpt",
    )
    cl = vector_changelog_images(spark, sf_dir)
    stage_ordered_chunks(spark, cl, "__gtid", 4, feed_dir)
    stream = (
        spark.readStream.schema(cl.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    run_to_completion(vec_index_stream(stream, store_dir, cents, ckpt))

    e = t(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    alive = e.filter(~(v % 9 == 5)).withColumn(
        "embedding",
        F.when(v % 6 == 3, F.reverse("embedding")).otherwise(
            F.col("embedding")
        ),
    )
    q_vec = alive.filter(v == 0).select(F.col("embedding").alias("qv"))
    exact = (
        alive.filter(v != 0)
        .join(F.broadcast(q_vec))
        .select(
            "vec_id",
            "label",
            (
                F.round(cosine(F.col("embedding"), F.col("qv")), 6)
                + F.lit(0.0)
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
        .localCheckpoint(eager=False)
    )
    probe_cids = [
        r["cid"]
        for r in cents.join(F.broadcast(q_vec))
        .select("cid", sq_dist(F.col("centroid"), F.col("qv")).alias("d"))
        .orderBy(F.col("d").asc(), F.col("cid"))
        .limit(default_nprobe(cents.count()))
        .collect()
    ]
    approx = (
        read_vec_index(spark, store_dir, cids=probe_cids)
        .filter(F.col("vec_id") != 0)
        .join(F.broadcast(q_vec))
        .select("vec_id", cosine(F.col("embedding"), F.col("qv")).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
        .select("vec_id")
        .distinct()
    )
    need = math.ceil(0.25 * k)
    ok = (
        exact.select("vec_id")
        .join(approx, "vec_id")
        .agg((F.count("*") >= need).alias("recall_ok"))
    )
    return exact.join(F.broadcast(ok))


QUERIES["ann_ivf_stream_upsert_topk"] = ann_ivf_stream_upsert_topk
ORACLES["ann_ivf_stream_upsert_topk"] = ANN_IVF_UPSERT_TOPK_SQL


# --- incrementally maintained embedding statistics -----------------------------
#
# The fourth maintained artifact of the round (join VIEW: round 11 /
# streaming; ANN INDEX: upsert + stream; dedup PAIRS: lsh): per-label
# vector statistics — row counts and per-dimension sums — maintained
# from the image-carrying vector changelog with a signed fold, never a
# corpus re-scan. The monitoring story at 100 TB: centroid drift per
# label tells you when the ANN codebook needs retraining; the stats
# table is labels-sized, the refresh is delta-sized.
#
# Exactness discipline: per-dim values are QUANTIZED to integers
# (floor(1e6 * x) as BIGINT) before summing — float32 -> float64
# widening and floor are bit-identical in both engines, and integer
# sums commute exactly, so the maintained result value-hashes against
# a from-scratch DuckDB recompute (the cross-engine float-sum parity
# gotcha, FIXTURES.md, avoided by construction).

EMB_STATS_DIMS = 4  # leading dims exposed as columns (qs0..qs3)


def _emb_qcols(emb):
    return [
        F.floor(emb.getItem(i).cast("double") * 1000000.0)
        .cast("long")
        .alias(f"q{i}")
        for i in range(EMB_STATS_DIMS)
    ]


def emb_stats_dir(sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:embstats:v1".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"emb_stats_{tag}")


def persist_emb_label_stats(
    spark: SparkSession, sf_dir: str, stats_dir: str
) -> None:
    """One-time base aggregate of the PRE-changelog corpus: per label,
    row count + quantized per-dim sums (labels-sized; the stored
    monitoring state). Write-then-swap like the index builders."""
    import uuid

    e = t(spark, sf_dir, "embeddings")
    base = (
        e.select("label", *_emb_qcols(F.col("embedding")))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            *[
                F.sum(f"q{i}").cast("long").alias(f"qs{i}")
                for i in range(EMB_STATS_DIMS)
            ],
        )
    )
    staging = f"{stats_dir}.staging-{uuid.uuid4().hex[:12]}"
    base.coalesce(1).write.mode("overwrite").parquet(staging)
    if _hfs.exists(spark, stats_dir):
        _hfs.delete(spark, staging)
        return
    try:
        _hfs.rename(spark, staging, stats_dir)
    except Exception:
        _hfs.delete(spark, staging)
        if not _hfs.exists(spark, stats_dir):
            raise


def emb_label_stats_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry key: per-label stats of the UPSERTED corpus, maintained
    as base + signed delta fold. Each update/delete event contributes
    (-1, -q(before)) under its label; each insert/update contributes
    (+1, +q(after)) — both images ride the changelog (binlog ROW
    format), so the fold never consults the corpus. The oracle
    recomputes the same stats from scratch over the alive corpus; a
    sign error, a missed image, or a label bleed breaks the hash.
    Scale: the delta folds map-side to a labels-sized grid; the stored
    base is labels-sized; the corpus is never re-read."""
    stats = emb_stats_dir(sf_dir)
    if not _hfs.exists(spark, stats):
        persist_emb_label_stats(spark, sf_dir, stats)
    base = spark.read.parquet(stats)

    cl = (
        vector_changelog_images(spark, sf_dir)
        .filter(F.col("__gtid") % 10 != 0)  # the non-inserts ARE the delta
        # one eager checkpoint: the synthetic changelog is DERIVED from
        # the embeddings table (fixture-only — production deltas arrive
        # as their own feed), and it feeds both signed branches; cutting
        # lineage here makes the maintenance plan corpus-scan-free,
        # which the pytest audit asserts
        .localCheckpoint(eager=True)
    )
    minus = cl.filter(F.col("before_emb").isNotNull()).select(
        "label",
        F.lit(-1).cast("long").alias("dn"),
        *[
            (-F.floor(F.col("before_emb").getItem(i).cast("double") * 1000000.0))
            .cast("long")
            .alias(f"dq{i}")
            for i in range(EMB_STATS_DIMS)
        ],
    )
    plus = cl.filter(
        (F.col("__op") != 0) & F.col("after_emb").isNotNull()
    ).select(
        "label",
        F.lit(1).cast("long").alias("dn"),
        *[
            F.floor(F.col("after_emb").getItem(i).cast("double") * 1000000.0)
            .cast("long")
            .alias(f"dq{i}")
            for i in range(EMB_STATS_DIMS)
        ],
    )
    delta = (
        minus.unionByName(plus)
        .groupBy("label")
        .agg(
            F.sum("dn").cast("long").alias("dn"),
            *[
                F.sum(f"dq{i}").cast("long").alias(f"dq{i}")
                for i in range(EMB_STATS_DIMS)
            ],
        )
    )
    return (
        base.join(delta, "label", "full_outer")
        .select(
            "label",
            (
                F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n_alive"),
            *[
                (
                    F.coalesce(f"qs{i}", F.lit(0))
                    + F.coalesce(f"dq{i}", F.lit(0))
                ).alias(f"qs{i}")
                for i in range(EMB_STATS_DIMS)
            ],
        )
        .filter(F.col("n_alive") > 0)
        .orderBy("label")
    )


_SQL_EMB_Q = ", ".join(
    f"CAST(sum(CAST(floor(CAST(embedding[{i+1}] AS DOUBLE) * 1000000.0)"
    f" AS BIGINT)) AS BIGINT) AS qs{i}"
    for i in range(EMB_STATS_DIMS)
)

EMB_LABEL_STATS_IVM_SQL = f"""
WITH {VECTOR_ALIVE_CTE}
SELECT label, count(*) AS n_alive, {_SQL_EMB_Q}
FROM alive
GROUP BY label
HAVING count(*) > 0
ORDER BY label
"""

QUERIES["emb_label_stats_ivm"] = emb_label_stats_ivm
ORACLES["emb_label_stats_ivm"] = EMB_LABEL_STATS_IVM_SQL


# --- IVM aggregate algebra: MIN/MAX and top-k under deletes --------------------
#
# Round 11 covered the LINEAR aggregates (SUM/COUNT fold signed deltas
# directly) and COUNT(DISTINCT) (support table over (group, member)).
# MIN/MAX is the remaining textbook case: it is NOT maintainable with
# constant per-group state under deletes (a deleted minimum exposes the
# second-smallest, which constant state cannot recall), so the IVM
# literature maintains the (group, value) multiset — the same support-
# table shape, with the signed fold computing each value's net
# multiplicity and the readout taking min/max over surviving values.
# Top-k per group is the same support table read through a rank over
# its (group, key) grid. The reference has no IVM at all (its query
# surface is delegated to MySQL's executor, binlogdb.cc).


def _signed_cents(cl: DataFrame, extra: tuple = ()) -> DataFrame:
    """The support family's shared delta projection: one signed
    (status, cents, sgn) row per changelog image (plus any ``extra``
    passthrough columns — the streamed feed keeps __gtid for chunk
    ordering). Every view of the algebra (MIN/MAX, median, mode, the
    streamed store) and the batch oracle must fold the SAME
    projection — cents quantization drifting in one copy would
    desynchronize the streamed store from the batch keys it converges
    to, so it lives here once."""
    sgn = F.when(F.col("__op").isin(1, 3), F.lit(1)).otherwise(F.lit(-1))
    return cl.select(
        *extra,
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        sgn.cast("long").alias("sgn"),
    )


def _support_multiset(cl: DataFrame) -> DataFrame:
    """Fold the signed projection to the alive (status, cents)
    multiset: net multiplicity per pair, surviving rows only."""
    return (
        _signed_cents(cl)
        .groupBy("o_orderstatus", "cents")
        .agg(F.sum("sgn").cast("long").alias("m"))
        .filter(F.col("m") > 0)
    )


def cdc_ivm_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX view maintenance under deletes — the classic
    non-distributive case: maintain the (status, price) SUPPORT
    multiset by signed fold (insert/update-after +1, update-before/
    delete -1 at the image's own status+price), keep net multiplicity
    > 0, then min/max over surviving values per group. Update chains
    telescope (update-1's before image cancels the insert, update-2's
    before cancels update-1's after), deletes drain the tombstoned
    image, so the support IS the alive latest (status, cents)
    multiset. n_values exposes the support width — the state the
    constant-space folds cannot carry. Prices quantize to cents
    (floor(x*100) as BIGINT; the changelog's +100.0/+300.0 arithmetic
    is exact in doubles) so the fold is integer-exact cross-engine.
    The oracle recomputes min/max over the ranked latest state. Shape
    at 100 TB: two hash aggregates, both map-side combinable; the
    support table is (statuses x distinct prices)-sized and hash-
    partitioned; no window, no join, the changelog never re-sorts."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    support = _support_multiset(synthetic_changelog(spark, sf_dir))
    return (
        support.groupBy("o_orderstatus")
        .agg(
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.count("*").cast("long").alias("n_values"),
        )
        .orderBy("o_orderstatus")
    )


def _cdc_ivm_minmax_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
)
SELECT o_orderstatus,
       CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST(count(DISTINCT CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS n_values
FROM ranked
WHERE __rn = 1 AND __op <> 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


QUERIES["cdc_ivm_minmax_view"] = cdc_ivm_minmax_view
ORACLES["cdc_ivm_minmax_view"] = _cdc_ivm_minmax_view_sql()


def cdc_ivm_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained top-k per group: top-3 customers by LIVE order count
    per latest order status. Top-k is not maintainable with k-sized
    state under deletes (a deleted member promotes the (k+1)-th, which
    k-sized state cannot recall), so the maintained artifact is the
    (status, custkey) support table — net live-order count per pair
    from the signed fold — and top-k is a READOUT: rank the support by
    (count DESC, custkey ASC) and keep k. Deterministic tie-break by
    key makes the readout hashable cross-engine. The oracle recomputes
    from the ranked latest state. Shape at 100 TB: the changelog folds
    map-side onto the support grid (statuses x customers); the ONE
    window runs over the support table — cardinality = distinct pairs,
    never events; the store refresh is delta-sized."""
    from pyspark.sql import Window

    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    cl = synthetic_changelog(spark, sf_dir)
    sgn = F.when(F.col("__op").isin(1, 3), F.lit(1)).otherwise(F.lit(-1))
    support = (
        cl.select("o_orderstatus", "o_custkey", sgn.alias("sgn"))
        .groupBy("o_orderstatus", "o_custkey")
        .agg(F.sum("sgn").cast("long").alias("n_orders"))
        .filter(F.col("n_orders") > 0)
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n_orders").desc(), F.col("o_custkey").asc()
    )
    return (
        support.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("o_orderstatus", "rk", "o_custkey", "n_orders")
        .orderBy("o_orderstatus", "rk")
    )


def _cdc_ivm_topk_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
),
support AS (
  SELECT o_orderstatus, o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM ranked
  WHERE __rn = 1 AND __op <> 0
  GROUP BY o_orderstatus, o_custkey
)
SELECT o_orderstatus, rk, o_custkey, n_orders
FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY o_orderstatus
      ORDER BY n_orders DESC, o_custkey ASC) AS INTEGER) AS rk
  FROM support
)
WHERE rk <= 3
ORDER BY o_orderstatus, rk
"""


QUERIES["cdc_ivm_topk_view"] = cdc_ivm_topk_view
ORACLES["cdc_ivm_topk_view"] = _cdc_ivm_topk_view_sql()


# --- distribution-drift diagnostics: PSI and Jensen-Shannon -------------------
#
# The two drift metrics production ML monitoring actually reports that
# the diagnostics family (KS/Kendall/chi2/...) did not yet cover:
# PSI (population stability index) over a fixed bin grid between two
# epochs, and Jensen-Shannon divergence of each source's categorical
# mix against the corpus. Both follow the repo's continuous-output
# parity discipline (round 6, FIXTURES.md): counts are exact BIGINTs,
# probabilities are single IEEE divisions, and the one transcendental
# (ln) is guarded by the rounding. The reference delegates all
# analytics to MySQL and ships neither.


def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of o_totalprice between two order
    epochs (ref < 1998-07-01 <= cur) over a FIXED 10-bin grid
    (floor(price/50k) capped at 9 — fixed edges are what makes PSI
    comparable across runs; quantile edges would re-bin every epoch).
    Laplace-smoothed (+1 per bin) so empty bins stay finite; each term
    (p-q)*ln(p/q) >= 0 and the grid spine guarantees all 10 rows at
    every sf. ONE fact scan -> 10-row hash aggregate; the spine and
    the totals are broadcast — no shuffle carries more than the grid.
    At 100 TB: per-bin counts combine map-side; everything after the
    first aggregate is grid-sized."""
    orders = t(spark, sf_dir, "orders")
    pivot = F.lit("1998-07-01 00:00:00").cast("timestamp")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast(
        "int"
    )
    counts = (
        orders.select(
            bin_.alias("bin"),
            F.when(F.col("o_orderdate") < pivot, 1).otherwise(0).alias("r"),
            F.when(F.col("o_orderdate") >= pivot, 1).otherwise(0).alias("c"),
        )
        .groupBy("bin")
        .agg(
            F.sum("r").cast("long").alias("n_ref"),
            F.sum("c").cast("long").alias("n_cur"),
        )
    )
    spine = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    filled = (
        spine.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    totals = filled.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p = (F.col("n_ref") + 1) / (F.col("tr") + 10).cast("double")
    q = (F.col("n_cur") + 1) / (F.col("tc") + 10).cast("double")
    return (
        filled.join(F.broadcast(totals))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            (F.round((p - q) * F.log(p / q), 6) + F.lit(0.0)).alias(
                "psi_term"
            ),
        )
        .orderBy("bin")
    )


AGG_PSI_DRIFT_SQL = """
WITH counts AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER) AS bin,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 1
                       ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01' THEN 1
                       ELSE 0 END) AS BIGINT) AS n_cur
  FROM orders GROUP BY 1
),
filled AS (
  SELECT CAST(s.range AS INTEGER) AS bin,
         COALESCE(c.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
  FROM range(10) s LEFT JOIN counts c ON c.bin = s.range
),
tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM filled)
SELECT bin, n_ref, n_cur,
       round((CAST(n_ref + 1 AS DOUBLE) / (tr + 10)
              - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
             * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
                  / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))), 6)
       + 0.0 AS psi_term
FROM filled CROSS JOIN tot
ORDER BY bin
"""

QUERIES["agg_psi_drift"] = agg_psi_drift
ORACLES["agg_psi_drift"] = AGG_PSI_DRIFT_SQL


def agg_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's language mix against
    the corpus-wide mix — the symmetric, bounded ([0, ln 2]) drift
    score used to flag a crawl source whose composition shifted. One
    scan -> (source, lang) counts; the (sources x langs) grid is built
    by crossing the two tiny marginal aggregates (both broadcast);
    terms with p=0 contribute only the q-side (0*ln 0 := 0), and the
    mixture m=(p+q)/2 is strictly positive because every grid lang has
    q>0 by construction. Output rounds at 6 (FIXTURES.md). At 100 TB:
    the only event-sized pass is the first map-side-combinable count;
    everything downstream is |sources| x |langs|."""
    d = t(spark, sf_dir, "documents")
    c = (
        d.groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    s = c.groupBy("source").agg(F.sum("n").cast("long").alias("ns"))
    lang = c.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    totals = c.agg(F.sum("n").cast("long").alias("nn"))
    grid = s.join(F.broadcast(lang)).join(F.broadcast(totals))
    terms = grid.join(
        F.broadcast(c), ["source", "lang"], "left"
    ).select(
        "source",
        "ns",
        (F.coalesce("n", F.lit(0)) / F.col("ns").cast("double")).alias("p"),
        (F.col("nl") / F.col("nn").cast("double")).alias("q"),
    )
    jsd = F.sum(
        F.when(
            F.col("p") > 0,
            0.5 * F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q"))),
        ).otherwise(F.lit(0.0))
        + 0.5 * F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("ns").cast("long").alias("n_docs"),
            (F.round(jsd, 6) + F.lit(0.0)).alias("jsd"),
        )
        .orderBy("source")
    )


AGG_JS_DIVERGENCE_SQL = """
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
s AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY 1),
l AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
terms AS (
  SELECT s.source, s.ns,
         CAST(COALESCE(c.n, 0) AS DOUBLE) / s.ns AS p,
         CAST(l.nl AS DOUBLE) / t.nn AS q
  FROM s CROSS JOIN l CROSS JOIN tot t
  LEFT JOIN c ON c.source = s.source AND c.lang = l.lang
)
SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
       round(sum(CASE WHEN p > 0
                      THEN 0.5 * p * ln(2 * p / (p + q)) ELSE 0 END
                 + 0.5 * q * ln(2 * q / (p + q))), 6) + 0.0 AS jsd
FROM terms GROUP BY source ORDER BY source
"""

QUERIES["agg_js_divergence"] = agg_js_divergence
ORACLES["agg_js_divergence"] = AGG_JS_DIVERGENCE_SQL


# --- time travel over the maintained view --------------------------------------
#
# The versioned state store already commits a COMPLETE snapshot per
# micro-batch (one atomic rename); with retention the default 2-deep
# replay window, that is exactly-once plumbing. Retaining MORE
# versions turns the same store into snapshot-isolation TIME TRAVEL —
# the table-format idea (Iceberg/Delta "VERSION AS OF") applied to an
# incrementally maintained view: auditors read the view as of batch k
# while the stream keeps advancing, and a bad upstream batch can be
# diagnosed by diffing adjacent versions. Reader cost is one pinned
# version's V store (nations-sized) regardless of history length.


def cdc_ivm_view_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-maintained bidi view read AS OF an INTERMEDIATE
    version. The multiplexed feed is staged as 4 files cut on
    o_custkey % 4 (an explicit, SQL-reproducible chop — unlike the
    quantile chop, an oracle can recompute any prefix), consumed with
    maxFilesPerTrigger=1 under retain=None so every batch's snapshot
    survives. The readout pins version 1 — the state after exactly
    the custkey%4 IN (0,1) slice of BOTH feeds — and the oracle
    recomputes the batch bidi view under that key restriction. A
    retention bug (v1 pruned), a version that tore across the L/R/V
    stores, or a batch that leaked keys across the chop all break the
    hash; pytest additionally proves EVERY retained version equals
    its prefix recompute and that the default retention still prunes.
    Scale: retained versions cost one nations-sized V + two key-sized
    L/R stores each — snapshot expiry bounds it exactly like a table
    format; the pinned read never touches other versions."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:ivmtt".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"ivm_tt_{tag}")
    feed_dir, state_dir, ckpt = (
        f"{root}/feed", f"{root}/state", f"{root}/ckpt",
    )
    feed = multiplexed_ivm_feed(spark, sf_dir).withColumn(
        "__bucket", (F.col("o_custkey") % 4).cast("long")
    )
    stage_ordered_chunks(
        spark, feed, "__bucket", 4, feed_dir, bounds=[0, 1, 2]
    )
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    run_to_completion(
        ivm_view_stream(
            stream, state_dir, ckpt, query_name="cdc_ivm_tt", retain=None
        )
    )
    return read_ivm_view(spark, state_dir, version=1).withColumn(
        "as_of_version", F.lit(1).cast("int")
    )


def _cdc_ivm_view_time_travel_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE
    from mysql_cdc_table_spark.operators.round11 import (
        DIM_CHANGELOG_CTE,
        _RANKED_BOTH_CTES,
    )

    return f"""
WITH {CHANGELOG_CTE},
{DIM_CHANGELOG_CTE},
{_RANKED_BOTH_CTES}
SELECT r.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum,
       CAST(1 AS INTEGER) AS as_of_version
FROM ranked_l l JOIN ranked_r r ON r.c_custkey = l.o_custkey
WHERE l.__rn = 1 AND l.__op <> 0 AND r.__rn = 1 AND r.__op <> 0
  AND l.o_custkey % 4 <= 1
GROUP BY r.c_nationkey
ORDER BY r.c_nationkey
"""


QUERIES["cdc_ivm_view_time_travel"] = cdc_ivm_view_time_travel
ORACLES["cdc_ivm_view_time_travel"] = _cdc_ivm_view_time_travel_sql()


# --- Holt-Winters additive (triple exponential smoothing) ----------------------

HW_ALPHA = 0.3  # level
HW_GAMMA = 0.2  # trend
HW_DELTA = 0.25  # seasonal
HW_SEASON = 4  # season length m
HW_FRAME = 24  # trailing frame (6 seasons)


def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE (triple-exponential) smoothing per user:
    level, trend AND an m-long seasonal ring — the recursion
    ts_holt_linear cannot express (its flat forecast lags any
    periodic series). Same bounded-frame fold idiom: the trailing 24
    values fold ONCE left-to-right with a (level, trend, ring) STRUCT
    accumulator —
      l_t = a*(x_t - s_{t-m}) + (1-a)*(l_{t-1} + b_{t-1});
      b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1};
      s_t = d*(x_t - l_t) + (1-d)*s_{t-m};  ring <- ring[2:] ++ [s_t]
    — seeded l_1 = x_1, b_1 = 0 and a ZERO ring (the crude-init
    variant: uniform at every frame length, so short early frames need
    no branch; the seasonals warm up inside the frame). One-step
    forecast = l + b + ring[1] (the next step consumes the ring head).
    Every step is +,-,* on doubles, so Spark's aggregate() and the
    oracle's recursive CTE run the identical IEEE sequence
    (struct-literal lambdas are WRONG on DuckDB — the holt_linear
    parity note — hence the CTE twin); output floor-quantized to
    millionths. O(frame) per row, frame never leaves its partition."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(HW_FRAME - 1), 0)
    )
    a, g, d, m = HW_ALPHA, HW_GAMMA, HW_DELTA, HW_SEASON
    l_new = f"({a} * (x - element_at(acc.s, 1)) + {1 - a} * (acc.l + acc.b))"
    step = (
        f"(acc, x) -> named_struct("
        f"'l', {l_new}, "
        f"'b', {g} * ({l_new} - acc.l) + {1 - g} * acc.b, "
        f"'s', concat(slice(acc.s, 2, {m - 1}), "
        f"array({d} * (x - {l_new}) + {1 - d} * element_at(acc.s, 1))))"
    )
    fold = F.expr(
        f"aggregate("
        f"  slice(vals, 2, greatest(size(vals) - 1, 0)),"
        f"  named_struct('l', element_at(vals, 1), 'b', cast(0.0 as double),"
        f"               's', array_repeat(cast(0.0 as double), {m})),"
        f"  {step})"
    )
    return (
        ev.withColumn("vals", F.collect_list("value").over(w))
        .withColumn("acc", fold)
        .select(
            "event_id",
            "user_id",
            F.floor(F.col("acc.l") * 1_000_000).cast("long").alias("level_e6"),
            F.floor(
                (
                    F.col("acc.l")
                    + F.col("acc.b")
                    + F.element_at(F.col("acc.s"), 1)
                )
                * 1_000_000
            )
            .cast("long")
            .alias("forecast_e6"),
        )
    )


def _ts_holt_winters_sql() -> str:
    a, g, d, m = HW_ALPHA, HW_GAMMA, HW_DELTA, HW_SEASON
    zeros = ", ".join(["CAST(0.0 AS DOUBLE)"] * m)
    l_new = f"({a} * (vals[i + 1] - s[1]) + {1 - a} * (l + b))"
    return f"""
WITH RECURSIVE framed AS (
  SELECT event_id, user_id,
         list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {HW_FRAME - 1} PRECEDING AND CURRENT ROW
         ) AS vals
  FROM events
), rec AS (
  SELECT event_id, user_id, vals, 1 AS i,
         vals[1] AS l, CAST(0.0 AS DOUBLE) AS b, [{zeros}] AS s
  FROM framed
  UNION ALL
  SELECT event_id, user_id, vals, i + 1,
         {l_new},
         {g} * ({l_new} - l) + {1 - g} * b,
         s[2:] || [{d} * (vals[i + 1] - {l_new}) + {1 - d} * s[1]]
  FROM rec WHERE i < len(vals)
)
SELECT event_id, user_id,
       CAST(floor(l * 1000000) AS BIGINT) AS level_e6,
       CAST(floor((l + b + s[1]) * 1000000) AS BIGINT) AS forecast_e6
FROM rec WHERE i = len(vals)
"""


QUERIES["ts_holt_winters"] = ts_holt_winters
ORACLES["ts_holt_winters"] = _ts_holt_winters_sql()


# --- IVM holistic aggregates: median and mode off the support table ------------
#
# Fourth wave of the algebra: the HOLISTIC aggregates. Median and mode
# cannot be maintained with ANY constant-size per-group state (they
# depend on the full value distribution), but the same (group, value)
# support multiset the MIN/MAX key maintains IS their sufficient
# statistic: mode = argmax multiplicity, median = weighted median of
# the (value, multiplicity) grid. The signed fold stays the only
# event-sized pass; both readouts run over the support grid.


def cdc_ivm_median_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained MEDIAN per group — the canonical holistic aggregate:
    per latest order status, the LOWER WEIGHTED MEDIAN of live order
    prices (smallest cents value whose cumulative multiplicity reaches
    half the group's total — exact integer arithmetic, no
    interpolation, so both engines agree bit-for-bit; for odd totals
    this IS the median). The signed fold maintains the (status, cents)
    support multiset; the readout is one cumulative window over the
    support grid ordered by cents + a broadcast totals join. Shape at
    100 TB: the event-sized pass is the map-side fold; the window's
    input is (statuses x distinct prices), never events — the same
    grid-not-rows discipline as the rank statistics."""
    from pyspark.sql import Window

    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    support = _support_multiset(synthetic_changelog(spark, sf_dir))
    totals = support.groupBy("o_orderstatus").agg(
        F.sum("m").cast("long").alias("n_alive")
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = support.withColumn("cum", F.sum("m").over(w))
    return (
        cum.join(F.broadcast(totals), "o_orderstatus")
        .filter(F.col("cum") * 2 >= F.col("n_alive"))
        .groupBy("o_orderstatus")
        .agg(
            F.min("cents").alias("median_cents"),
            F.max("n_alive").alias("n_alive"),
        )
        .orderBy("o_orderstatus")
    )


def _cdc_ivm_median_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
),
support AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS m
  FROM ranked
  WHERE __rn = 1 AND __op <> 0
  GROUP BY 1, 2
),
cum AS (
  SELECT o_orderstatus, cents, m,
         sum(m) OVER (PARTITION BY o_orderstatus ORDER BY cents) AS cum,
         sum(m) OVER (PARTITION BY o_orderstatus) AS n_alive
  FROM support
)
SELECT o_orderstatus,
       CAST(min(cents) AS BIGINT) AS median_cents,
       CAST(max(n_alive) AS BIGINT) AS n_alive
FROM cum
WHERE cum * 2 >= n_alive
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


QUERIES["cdc_ivm_median_view"] = cdc_ivm_median_view
ORACLES["cdc_ivm_median_view"] = _cdc_ivm_median_view_sql()


def cdc_ivm_mode_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained MODE per group: the most frequent live order price
    (per latest status), ties broken by the SMALLEST cents value so
    the readout is deterministic cross-engine. mode = one max_by over
    the maintained support multiset — argmax multiplicity, holistic
    like median but with a cheaper (aggregate, not window) readout.
    Exposes the winning multiplicity; a stale support row or a
    tie-break inversion flips the hash. Same scale shape as the other
    support readouts: map-side fold, then a statuses-sized argmax."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    support = _support_multiset(synthetic_changelog(spark, sf_dir))
    return (
        support.groupBy("o_orderstatus")
        .agg(
            F.expr("max_by(cents, struct(m, -cents))").alias("mode_cents"),
            F.max("m").cast("long").alias("mode_m"),
        )
        .orderBy("o_orderstatus")
    )


def _cdc_ivm_mode_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
),
support AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS m
  FROM ranked
  WHERE __rn = 1 AND __op <> 0
  GROUP BY 1, 2
)
SELECT o_orderstatus, mode_cents, mode_m
FROM (
  SELECT o_orderstatus, cents AS mode_cents, m AS mode_m,
         row_number() OVER (
           PARTITION BY o_orderstatus
           ORDER BY m DESC, cents ASC) AS rk
  FROM support
)
WHERE rk = 1
ORDER BY o_orderstatus
"""


QUERIES["cdc_ivm_mode_view"] = cdc_ivm_mode_view
ORACLES["cdc_ivm_mode_view"] = _cdc_ivm_mode_view_sql()


# --- Cramér–von Mises two-sample over the fixed grid ----------------------------


def agg_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises two-sample terms between the same two order
    epochs as agg_psi_drift — CvM integrates the SQUARED ECDF gap over
    the whole distribution where KS takes only the max, so it sees
    broad small shifts KS misses. Values bin to a fixed 64-cell grid
    (floor(price/8000) capped — binned CvM is the scan-friendly form;
    the un-binned statistic needs a pooled sort). Output is PER-BUCKET:
    counts a/b (exact BIGINTs), cumulative A/B via a window over the
    64-row grid, and the term (a+b)*(A/n - B/m)^2 — each term a
    deterministic IEEE expression of ITS OWN bucket's integers (round
    6), never a cross-row float sum, so the hash is order-free (the
    agg_psi_drift discipline). Σ terms * nm/(n+m)^2 is the statistic.
    One fact scan -> 64-row map-side aggregate; spine, totals and the
    cumulative window are all grid-sized."""
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    pivot = F.lit("1998-07-01 00:00:00").cast("timestamp")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 8000), F.lit(63)).cast(
        "int"
    )
    counts = (
        orders.select(
            bin_.alias("bin"),
            F.when(F.col("o_orderdate") < pivot, 1).otherwise(0).alias("r"),
            F.when(F.col("o_orderdate") >= pivot, 1).otherwise(0).alias("c"),
        )
        .groupBy("bin")
        .agg(
            F.sum("r").cast("long").alias("a_cnt"),
            F.sum("c").cast("long").alias("b_cnt"),
        )
    )
    spine = spark.range(64).select(F.col("id").cast("int").alias("bin"))
    filled = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("a_cnt", F.lit(0)).cast("long").alias("a_cnt"),
        F.coalesce("b_cnt", F.lit(0)).cast("long").alias("b_cnt"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = filled.select(
        "bin",
        "a_cnt",
        "b_cnt",
        F.sum("a_cnt").over(w).cast("long").alias("a_cum"),
        F.sum("b_cnt").over(w).cast("long").alias("b_cum"),
    )
    totals = filled.agg(
        F.sum("a_cnt").cast("long").alias("n"),
        F.sum("b_cnt").cast("long").alias("m"),
    )
    gap = (
        F.col("a_cum") / F.col("n").cast("double")
        - F.col("b_cum") / F.col("m").cast("double")
    )
    return (
        cum.join(F.broadcast(totals))
        .select(
            "bin",
            "a_cnt",
            "b_cnt",
            (
                F.round((F.col("a_cnt") + F.col("b_cnt")) * gap * gap, 6)
                + F.lit(0.0)
            ).alias("cvm_term"),
        )
        .orderBy("bin")
    )


AGG_CVM_TWO_SAMPLE_SQL = """
WITH counts AS (
  SELECT CAST(least(floor(o_totalprice / 8000), 63) AS INTEGER) AS bin,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 1
                       ELSE 0 END) AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01' THEN 1
                       ELSE 0 END) AS BIGINT) AS b_cnt
  FROM orders GROUP BY 1
),
filled AS (
  SELECT CAST(s.range AS INTEGER) AS bin,
         COALESCE(c.a_cnt, 0) AS a_cnt, COALESCE(c.b_cnt, 0) AS b_cnt
  FROM range(64) s LEFT JOIN counts c ON c.bin = s.range
),
cum AS (
  SELECT bin, a_cnt, b_cnt,
         CAST(sum(a_cnt) OVER (ORDER BY bin) AS BIGINT) AS a_cum,
         CAST(sum(b_cnt) OVER (ORDER BY bin) AS BIGINT) AS b_cum
  FROM filled
),
tot AS (SELECT sum(a_cnt) AS n, sum(b_cnt) AS m FROM filled)
SELECT bin, a_cnt, b_cnt,
       round((a_cnt + b_cnt)
             * (CAST(a_cum AS DOUBLE) / n - CAST(b_cum AS DOUBLE) / m)
             * (CAST(a_cum AS DOUBLE) / n - CAST(b_cum AS DOUBLE) / m), 6)
       + 0.0 AS cvm_term
FROM cum CROSS JOIN tot
ORDER BY bin
"""

QUERIES["agg_cvm_two_sample"] = agg_cvm_two_sample
ORACLES["agg_cvm_two_sample"] = AGG_CVM_TWO_SAMPLE_SQL


# --- streaming maintenance of the support table ---------------------------------
#
# The batch keys above prove the support multiset is the sufficient
# statistic for MIN/MAX, top-k, median and mode. This section proves
# the support table itself is maintainable ACROSS MICRO-BATCHES with
# the same versioned exactly-once store as the join view: the fold is
# a keyed signed sum (linear), so the store update is one
# unionByName + hash aggregate per batch, and every readout of the
# algebra family works off any committed version.


_SUPPORT_SCHEMA = (
    "o_orderstatus string, cents long, m long"
)


def support_stream_dirs(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """(feed, state, checkpoint) dirs of the streamed support store —
    one place owns the layout; tests read the state through this
    instead of re-deriving the tag."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:supstream".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"sup_stream_{tag}")
    return f"{root}/feed", f"{root}/state", f"{root}/ckpt"


def support_apply_batch(
    spark: SparkSession, batch_df: DataFrame, state_dir: str, batch_id: int,
    retain: int | None = 2,
) -> None:
    """One micro-batch of support maintenance — the foreachBatch body.
    batch_df carries (o_orderstatus, cents, sgn) rows; the store holds
    the net multiplicity per (status, cents). Same commit protocol as
    ivm_apply_batch: staging write + one atomic version rename,
    replayed batches return on the existing version. Rows folding to
    net 0 are dropped from the store (a full insert+delete pair inside
    the stream leaves no residue — the store is the ALIVE multiset,
    not the event log)."""
    if _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
        return
    vs = _ivm_versions(spark, state_dir)
    if vs:
        state = spark.read.schema(_SUPPORT_SCHEMA).parquet(
            f"{state_dir}/v{vs[-1]}/S"
        )
    else:
        state = spark.createDataFrame([], _SUPPORT_SCHEMA)
    delta = (
        batch_df.groupBy("o_orderstatus", "cents")
        .agg(F.sum("sgn").cast("long").alias("m"))
    )
    new = (
        state.unionByName(delta)
        .groupBy("o_orderstatus", "cents")
        .agg(F.sum("m").cast("long").alias("m"))
        .filter(F.col("m") != 0)
    )
    _commit_version(spark, state_dir, batch_id, {"S": new}, retain)


def read_support_store(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    vs = _ivm_versions(spark, state_dir)
    if version is not None:
        if version not in vs:
            raise ValueError(
                f"version v{version} not retained in {state_dir}; have {vs}"
            )
        vs = [version]
    if not vs:
        return spark.createDataFrame([], _SUPPORT_SCHEMA)
    return spark.read.schema(_SUPPORT_SCHEMA).parquet(
        f"{state_dir}/v{vs[-1]}/S"
    )


def cdc_ivm_streaming_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIN/MAX view maintained by a REAL stream: the signed
    changelog staged as 4 gtid-ordered chunks, consumed with
    maxFilesPerTrigger=1 through foreachBatch advancing the versioned
    support store, then the batch key's readout (min/max/n_values per
    status) runs off the FINAL committed version. The signed fold is
    linear, so the converged store equals the one-shot fold under any
    batch chop — the same algebra-commutes-with-chop argument as the
    join view, now for the support-table family (and with it MIN/MAX,
    top-k, median and mode: one maintained store, four readouts). The
    oracle is cdc_ivm_minmax_view's. Scale: per batch one map-side
    delta fold + one store-sized merge; commit is one rename; the
    store is (statuses x distinct prices)-sized regardless of stream
    history."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    feed_dir, state_dir, ckpt = support_stream_dirs(spark, sf_dir)
    feed = _signed_cents(
        synthetic_changelog(spark, sf_dir), extra=("__gtid",)
    )
    stage_ordered_chunks(spark, feed, "__gtid", 4, feed_dir)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        support_apply_batch(spark, batch_df, state_dir, batch_id)

    run_to_completion(
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .queryName("cdc_sup_stream")
    )
    support = read_support_store(spark, state_dir).filter(F.col("m") > 0)
    return (
        support.groupBy("o_orderstatus")
        .agg(
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.count("*").cast("long").alias("n_values"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["cdc_ivm_streaming_minmax"] = cdc_ivm_streaming_minmax
ORACLES["cdc_ivm_streaming_minmax"] = _cdc_ivm_minmax_view_sql()


# --- quantile readout off the support grid + tail-weighted drift ----------------


def cdc_ivm_quantile_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained QUANTILES per group: lower weighted p10/p50/p90 of
    live order prices per latest status — the median readout
    generalized to arbitrary quantiles over the SAME support multiset
    and the SAME single cumulative window (three thresholds read one
    cum column: smallest cents with 10*cum >= q*10*n_alive). Exact
    integer threshold arithmetic — no interpolation — so both engines
    agree bit-for-bit. Monitoring shape at 100 TB: one maintained
    store serves every percentile dashboards ask for; the window's
    input stays (statuses x distinct prices)."""
    from pyspark.sql import Window

    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    support = _support_multiset(synthetic_changelog(spark, sf_dir))
    totals = support.groupBy("o_orderstatus").agg(
        F.sum("m").cast("long").alias("n_alive")
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = support.withColumn("cum", F.sum("m").over(w))

    def q(mult: int, name: str):
        # lower weighted quantile: smallest value with 10*cum >= mult*n
        return F.min(
            F.when(
                F.col("cum") * 10 >= F.col("n_alive") * mult, F.col("cents")
            )
        ).alias(name)

    return (
        cum.join(F.broadcast(totals), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            q(1, "p10_cents"),
            q(5, "p50_cents"),
            q(9, "p90_cents"),
            F.max("n_alive").alias("n_alive"),
        )
        .orderBy("o_orderstatus")
    )


def _cdc_ivm_quantile_view_sql() -> str:
    from mysql_cdc_table_spark.cdc.synthetic import CHANGELOG_CTE

    return f"""
WITH {CHANGELOG_CTE},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY __gtid DESC, __event_seq DESC, __image_seq DESC) AS __rn
  FROM changelog
),
support AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS m
  FROM ranked
  WHERE __rn = 1 AND __op <> 0
  GROUP BY 1, 2
),
cum AS (
  SELECT o_orderstatus, cents, m,
         sum(m) OVER (PARTITION BY o_orderstatus ORDER BY cents) AS cum,
         sum(m) OVER (PARTITION BY o_orderstatus) AS n_alive
  FROM support
)
SELECT o_orderstatus,
       CAST(min(CASE WHEN cum * 10 >= n_alive * 1 THEN cents END) AS BIGINT)
         AS p10_cents,
       CAST(min(CASE WHEN cum * 10 >= n_alive * 5 THEN cents END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN cum * 10 >= n_alive * 9 THEN cents END) AS BIGINT)
         AS p90_cents,
       CAST(max(n_alive) AS BIGINT) AS n_alive
FROM cum
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


QUERIES["cdc_ivm_quantile_view"] = cdc_ivm_quantile_view
ORACLES["cdc_ivm_quantile_view"] = _cdc_ivm_quantile_view_sql()


def agg_ad_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson–Darling two-sample terms over the same fixed 64-cell
    grid as agg_cvm_two_sample — AD divides the squared ECDF gap by
    H(1-H) of the POOLED ECDF, up-weighting the tails where KS and
    CvM are least sensitive (the drift that matters for outlier-heavy
    price distributions). Terms with H=0 (leading empty buckets) or
    H=1 (the final bucket — AD's standard exclusion) are defined 0.
    Per-bucket output, each term a deterministic IEEE expression of
    its own bucket's integers (round 6) — the order-free family
    discipline. Same plan shape as CvM: one fact scan, grid-sized
    everything after."""
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    pivot = F.lit("1998-07-01 00:00:00").cast("timestamp")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 8000), F.lit(63)).cast(
        "int"
    )
    counts = (
        orders.select(
            bin_.alias("bin"),
            F.when(F.col("o_orderdate") < pivot, 1).otherwise(0).alias("r"),
            F.when(F.col("o_orderdate") >= pivot, 1).otherwise(0).alias("c"),
        )
        .groupBy("bin")
        .agg(
            F.sum("r").cast("long").alias("a_cnt"),
            F.sum("c").cast("long").alias("b_cnt"),
        )
    )
    spine = spark.range(64).select(F.col("id").cast("int").alias("bin"))
    filled = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("a_cnt", F.lit(0)).cast("long").alias("a_cnt"),
        F.coalesce("b_cnt", F.lit(0)).cast("long").alias("b_cnt"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = filled.select(
        "bin",
        "a_cnt",
        "b_cnt",
        F.sum("a_cnt").over(w).cast("long").alias("a_cum"),
        F.sum("b_cnt").over(w).cast("long").alias("b_cum"),
    )
    totals = filled.agg(
        F.sum("a_cnt").cast("long").alias("n"),
        F.sum("b_cnt").cast("long").alias("m"),
    )
    h = (F.col("a_cum") + F.col("b_cum")) / (
        F.col("n") + F.col("m")
    ).cast("double")
    gap = (
        F.col("a_cum") / F.col("n").cast("double")
        - F.col("b_cum") / F.col("m").cast("double")
    )
    term = F.when(
        (F.col("a_cum") + F.col("b_cum") > 0)
        & (F.col("a_cum") + F.col("b_cum") < F.col("n") + F.col("m")),
        F.round(
            (F.col("a_cnt") + F.col("b_cnt")) * gap * gap / (h * (1 - h)), 6
        )
        + F.lit(0.0),
    ).otherwise(F.lit(0.0))
    return (
        cum.join(F.broadcast(totals))
        .select("bin", "a_cnt", "b_cnt", term.alias("ad_term"))
        .orderBy("bin")
    )


AGG_AD_TWO_SAMPLE_SQL = """
WITH counts AS (
  SELECT CAST(least(floor(o_totalprice / 8000), 63) AS INTEGER) AS bin,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 1
                       ELSE 0 END) AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01' THEN 1
                       ELSE 0 END) AS BIGINT) AS b_cnt
  FROM orders GROUP BY 1
),
filled AS (
  SELECT CAST(s.range AS INTEGER) AS bin,
         COALESCE(c.a_cnt, 0) AS a_cnt, COALESCE(c.b_cnt, 0) AS b_cnt
  FROM range(64) s LEFT JOIN counts c ON c.bin = s.range
),
cum AS (
  SELECT bin, a_cnt, b_cnt,
         CAST(sum(a_cnt) OVER (ORDER BY bin) AS BIGINT) AS a_cum,
         CAST(sum(b_cnt) OVER (ORDER BY bin) AS BIGINT) AS b_cum
  FROM filled
),
tot AS (SELECT CAST(sum(a_cnt) AS BIGINT) AS n,
               CAST(sum(b_cnt) AS BIGINT) AS m FROM filled)
SELECT bin, a_cnt, b_cnt,
       CASE WHEN a_cum + b_cum > 0 AND a_cum + b_cum < n + m
            THEN round((a_cnt + b_cnt)
                 * (CAST(a_cum AS DOUBLE) / n - CAST(b_cum AS DOUBLE) / m)
                 * (CAST(a_cum AS DOUBLE) / n - CAST(b_cum AS DOUBLE) / m)
                 / ((CAST(a_cum + b_cum AS DOUBLE) / (n + m))
                    * (1 - CAST(a_cum + b_cum AS DOUBLE) / (n + m))), 6)
                 + 0.0
            ELSE 0.0 END AS ad_term
FROM cum CROSS JOIN tot
ORDER BY bin
"""

QUERIES["agg_ad_two_sample"] = agg_ad_two_sample
ORACLES["agg_ad_two_sample"] = AGG_AD_TWO_SAMPLE_SQL


# --- LSH design table + naive seasonal decomposition (late keys) ----------------
#
# Registered past the round-12 front budget: they append at the
# registry tail via ROUND12_LATE_KEYS and lead round 13's window
# (the pinned-behind protocol, operators/__init__.py).


def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH DESIGN TABLE for the dedup family: detection
    probability P(candidate | similarity s) = 1 - (1 - s^r)^b over a
    fixed s grid (0.02 steps), for the production banding (b=4, r=4 —
    functions/dedup.py) and its two neighbours. This is the s-curve a
    100 TB dedup deployment reads to pick banding: where the curve
    crosses 1/2 is the effective similarity threshold ((1/b)^(1/r)),
    and the curve's steepness is the false-positive/negative tradeoff.
    Pure math on a generated grid — zero data read; the value is
    having the tuning table AS a queryable relation next to the index
    it tunes (and oracled: pow() is correctly-rounded enough at round
    6 to hash identically — same discipline as ln in the drift keys).
    Derivation from corpus-free first principles: a candidate fires if
    any of b bands has all r minhash rows agree, each agreeing with
    probability s under the minhash property."""
    grid = spark.range(50).select(
        ((F.col("id") + 1) * 2 / 100.0).alias("s")
    )
    bandings = spark.createDataFrame(
        [(2, 8), (4, 4), (8, 2)], "b int, r int"
    )
    p = 1 - F.pow(1 - F.pow(F.col("s"), F.col("r")), F.col("b"))
    return (
        grid.join(F.broadcast(bandings))
        .select(
            "b",
            "r",
            (F.round(F.col("s"), 2) + F.lit(0.0)).alias("s"),
            (F.round(p, 6) + F.lit(0.0)).alias("p_candidate"),
        )
        .orderBy("b", "s")
    )


DEDUP_LSH_SCURVE_SQL = """
WITH grid AS (
  SELECT (CAST(s.range AS DOUBLE) + 1) * 2 / 100.0 AS s
  FROM range(50) s
),
bandings AS (
  SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2)) AS t(b, r)
)
SELECT b, r,
       round(s, 2) + 0.0 AS s,
       round(1 - pow(1 - pow(s, r), b), 6) + 0.0 AS p_candidate
FROM grid CROSS JOIN bandings
ORDER BY b, s
"""

QUERIES["dedup_lsh_scurve"] = dedup_lsh_scurve
ORACLES["dedup_lsh_scurve"] = DEDUP_LSH_SCURVE_SQL


TS_SEASON_M = 7  # weekly seasonality on daily rollups


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive additive seasonal decomposition of the DAILY event-count
    series per event_type: trend = centered 7-day moving average
    (defined only where the full window exists — the classic
    decomposition's edge NaNs become NULLs), detrended = count -
    trend, seasonal = day-of-week mean of the detrended series
    (exact: quantized to millionths BEFORE the mean so the division
    is the only float op, then floor-quantized), residual = detrended
    - seasonal. Emits one row per (event_type, day) with trend_e6 /
    seasonal_e6 / residual_e6. Everything is windows over the DAILY
    grid (types x days — the rollup happens first), never events;
    the day-of-week means are a types x 7 broadcast join."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("long").alias("n"))
    )
    m = TS_SEASON_M
    half = m // 2
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-half, half)
    )
    # trend: exact integer sum over the window; NULL at the edges
    trended = daily.withColumn(
        "trend_e6",
        F.when(
            F.count("*").over(w) == m,
            F.floor(F.sum("n").over(w) * 1_000_000.0 / m).cast("long"),
        ),
    ).withColumn(
        "detr_e6",
        F.col("n") * 1_000_000 - F.col("trend_e6"),
    )
    dow = F.dayofweek(F.col("d")).alias("dow")
    seasonal = (
        trended.filter(F.col("detr_e6").isNotNull())
        .select("event_type", dow, "detr_e6")
        .groupBy("event_type", "dow")
        .agg(
            F.floor(
                F.sum("detr_e6") * 1.0 / F.count("*")
            ).cast("long").alias("seasonal_e6")
        )
    )
    return (
        trended.withColumn("dow", F.dayofweek(F.col("d")))
        .join(F.broadcast(seasonal), ["event_type", "dow"], "left")
        .select(
            "event_type",
            "d",
            "n",
            "trend_e6",
            F.when(
                F.col("detr_e6").isNotNull(), F.col("seasonal_e6")
            ).alias("seasonal_e6"),
            (F.col("detr_e6") - F.col("seasonal_e6")).alias("residual_e6"),
        )
        .orderBy("event_type", "d")
    )


TS_SEASONAL_DECOMPOSE_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
trended AS (
  SELECT event_type, d, n,
         CASE WHEN count(*) OVER w = {TS_SEASON_M}
              THEN CAST(floor(sum(n) OVER w * 1000000.0 / {TS_SEASON_M})
                        AS BIGINT) END AS trend_e6
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN {TS_SEASON_M // 2} PRECEDING
                        AND {TS_SEASON_M // 2} FOLLOWING)
),
detr AS (
  SELECT *, n * 1000000 - trend_e6 AS detr_e6,
         dayofweek(d) + 1 AS dow
  FROM trended
),
seasonal AS (
  SELECT event_type, dow,
         CAST(floor(sum(detr_e6) * 1.0 / count(*)) AS BIGINT)
           AS seasonal_e6
  FROM detr WHERE detr_e6 IS NOT NULL
  GROUP BY 1, 2
)
SELECT t.event_type, t.d, t.n, t.trend_e6,
       CASE WHEN t.detr_e6 IS NOT NULL THEN s.seasonal_e6 END
         AS seasonal_e6,
       t.detr_e6 - s.seasonal_e6 AS residual_e6
FROM detr t LEFT JOIN seasonal s
  ON s.event_type = t.event_type AND s.dow = t.dow
ORDER BY t.event_type, t.d
"""

QUERIES["ts_seasonal_decompose"] = ts_seasonal_decompose
ORACLES["ts_seasonal_decompose"] = TS_SEASONAL_DECOMPOSE_SQL


# --- stream-maintained SCD2 dimension --------------------------------------------
#
# The warehouse artifact every CDC pipeline ultimately feeds: the
# type-2 dimension, maintained across micro-batches. SCD2 history is
# APPEND-MOSTLY — a closed validity interval never changes again —
# so the per-batch work is: close the touched keys' OPEN intervals,
# re-fold those keys' (open-row + batch) events, carry everything
# else untouched. Cost ∝ batch + touched keys' open rows, never ∝
# history; at 100 TB the store buckets by key and only the open-rows
# plane rewrites (the closed plane is append-only), exactly like the
# keyed upsert store. Committed with the shared versioned protocol.

_SCD2_DATA_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)

_SCD2_STORE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string, "
    "__op int, __gtid long, __event_seq long, __image_seq int, "
    "valid_from timestamp, valid_to timestamp, is_current boolean"
)


def _scd2_fold(events: DataFrame) -> DataFrame:
    """ops.scd2's interval construction, keeping the ordering columns
    (__op/__event_seq/__image_seq) in the output so a stored open row
    can re-enter a later fold as its own event. Input rows carry __tm;
    deletes close the previous interval and are dropped."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("__gtid").asc(),
        F.col("__event_seq").asc(),
        F.col("__image_seq").asc(),
    )
    versions = events.filter(F.col("__op") != 2)
    nxt_tm = F.lead("__tm").over(w)
    nxt_op = F.lead("__op").over(w)
    return (
        versions.select(
            *_SCD2_DATA_COLS,
            "__op",
            "__gtid",
            "__event_seq",
            "__image_seq",
            F.col("__tm").alias("valid_from"),
            nxt_tm.alias("valid_to"),
            nxt_op.isNull().alias("is_current"),
        )
        .filter(F.col("__op") != 0)
    )


def scd2_apply_batch(
    spark: SparkSession, batch_df: DataFrame, state_dir: str, batch_id: int,
    retain: int | None = 2,
) -> None:
    """One micro-batch of SCD2 maintenance. Closed intervals are
    carried verbatim (append-only history); open intervals of keys the
    batch touches re-enter the fold as pseudo-events (their stored
    __op/__gtid/seq order them correctly against the new images);
    untouched open intervals carry. Exactly-once via the shared
    versioned commit."""
    if _hfs.exists(spark, f"{state_dir}/v{batch_id}"):
        return
    vs = _ivm_versions(spark, state_dir)
    if vs:
        store = spark.read.schema(_SCD2_STORE_SCHEMA).parquet(
            f"{state_dir}/v{vs[-1]}/D"
        )
    else:
        store = spark.createDataFrame([], _SCD2_STORE_SCHEMA)
    keys = batch_df.select("o_orderkey").distinct()
    open_rows = store.filter(F.col("valid_to").isNull())
    closed = store.filter(F.col("valid_to").isNotNull())
    touched_open = open_rows.join(F.broadcast(keys), "o_orderkey", "semi")
    carried_open = open_rows.join(F.broadcast(keys), "o_orderkey", "anti")
    events = touched_open.select(
        *_SCD2_DATA_COLS,
        "__op",
        "__gtid",
        "__event_seq",
        "__image_seq",
        F.col("valid_from").alias("__tm"),
    ).unionByName(
        batch_df.select(
            *_SCD2_DATA_COLS,
            "__op", "__gtid", "__event_seq", "__image_seq", "__tm",
        )
    )
    new_store = closed.unionByName(carried_open).unionByName(
        _scd2_fold(events)
    )
    _commit_version(spark, state_dir, batch_id, {"D": new_store}, retain)


def cdc_scd2_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 dimension maintained by a REAL stream: the changelog
    staged as 4 gtid-ordered chunks (update image pairs share a gtid,
    so a pair never splits across chunks), consumed with
    maxFilesPerTrigger=1 through foreachBatch — per batch the touched
    keys' open intervals close/extend while closed history carries
    byte-identically — then the dimension is READ BACK from the final
    committed version. The oracle is the batch SCD2 SQL verbatim
    (cdc/queries.py): a version double-emitted on replay, an open
    interval not closed at a batch seam, or a touched key's history
    rewritten wrong all break the hash. pytest additionally proves
    convergence to ops.scd2, chop invariance, replay idempotence, and
    that closed rows survive batches untouched."""
    import hashlib
    import os
    import tempfile

    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:scd2stream".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"scd2_stream_{tag}")
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
        scd2_apply_batch(spark, batch_df, state_dir, batch_id)

    run_to_completion(
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .queryName("cdc_scd2_stream")
    )
    vs = _ivm_versions(spark, state_dir)
    return (
        spark.read.schema(_SCD2_STORE_SCHEMA)
        .parquet(f"{state_dir}/v{vs[-1]}/D")
        .select(
            *_SCD2_DATA_COLS,
            "__gtid",
            "valid_from",
            "valid_to",
            "is_current",
        )
    )


def _cdc_scd2_streaming_sql() -> str:
    from mysql_cdc_table_spark.cdc.queries import CDC_SCD2_SQL

    return CDC_SCD2_SQL


QUERIES["cdc_scd2_streaming"] = cdc_scd2_streaming
ORACLES["cdc_scd2_streaming"] = _cdc_scd2_streaming_sql()


# --- real wire format -> type-2 dimension, end to end ----------------------------


def cdc_binlog_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production path in one hash: frame a versioned
    changelog as REAL binlog v4 bytes (insert gno=id at price+2;
    id%10==0 keys get an update txn at gno=id+5e8 back to the base
    price; id%17==0 keys a delete txn at gno=id+1e9), decode
    (sources/mysql_binlog.py), build the SCD2 dimension (cdc/ops.py),
    and aggregate intervals per status: interval counts, current
    versus closed split, and cents sums over each plane. Pins the
    ordering semantics end-to-end — a decode that scrambled
    (__gtid, __event_seq, __image_seq), dropped a tombstone, or
    mis-ordered an update pair moves versions between the current and
    closed planes and breaks the hash. The oracle derives the same
    numbers from the fixture arithmetic in pure SQL. Scale: encode and
    decode (the production columnar kernel) are per-partition
    (embarrassingly parallel), the SCD2 fold is one keyed window, the rollup one hash aggregate."""
    from decimal import Decimal as _D

    import pandas as pd

    from mysql_cdc_table_spark.cdc.ops import scd2
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _decode_files,
        _encode_files,
        build_binlog_file,
    )
    from pyspark.sql import types as T

    target = T.StructType(
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
    base = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.expr(
                "cast(cast(o_orderkey % 100000 as decimal(30,2)) / 100"
                " as decimal(12,2))"
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )

    def build(pdf: pd.DataFrame) -> bytes:
        txns = []
        for r in pdf.itertuples(index=False):
            base_row = {
                "id": int(r.id), "price": r.price, "status": r.status,
            }
            v1 = dict(base_row, price=base_row["price"] + _D(2))
            txns.append({"gno": base_row["id"], "op": "w", "rows": [v1]})
            last = v1
            if base_row["id"] % 10 == 0:
                before = dict(base_row, price=base_row["price"] + _D(1))
                txns.append(
                    {
                        "gno": base_row["id"] + 500_000_000,
                        "op": "u",
                        "rows": [(before, base_row)],
                    }
                )
                last = base_row
            if base_row["id"] % 17 == 0:
                txns.append(
                    {
                        "gno": base_row["id"] + 1_000_000_000,
                        "op": "d",
                        "rows": [last],
                    }
                )
        return build_binlog_file("tpch", "orders", target, txns)

    dim = scd2(
        _decode_files(_encode_files(base, build), target, "tpch", "orders"),
        ["id"],
    )
    cents = (F.col("price") * 100).cast("long")
    cur = F.col("is_current")
    return (
        dim.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum(F.when(cur, 1).otherwise(0)).cast("long").alias(
                "n_current"
            ),
            F.sum(F.when(~cur, 1).otherwise(0)).cast("long").alias(
                "n_closed"
            ),
            F.sum(F.when(cur, cents).otherwise(0)).cast("long").alias(
                "cur_cents"
            ),
            F.sum(F.when(~cur, cents).otherwise(0)).cast("long").alias(
                "closed_cents"
            ),
        )
        .orderBy("status")
    )


# Fixture arithmetic, engine-free: every key contributes an insert
# version at cents+200; id%10==0 keys a second version at cents
# (closing the first); id%17==0 keys a delete closing their LAST
# version. current = not deleted; the current version's cents is
# cents for updated keys, cents+200 otherwise.
CDC_BINLOG_SCD2_SQL = """
WITH b AS (
  SELECT o_orderkey AS id,
         CAST(o_orderkey % 100000 AS BIGINT) AS cents,
         o_orderstatus AS status
  FROM orders
)
SELECT status,
       CAST(sum(CASE WHEN id % 10 = 0 THEN 2 ELSE 1 END) AS BIGINT)
         AS n_intervals,
       CAST(sum(CASE WHEN id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_current,
       CAST(sum(CASE WHEN id % 10 = 0 THEN 2 ELSE 1 END)
            - sum(CASE WHEN id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_closed,
       CAST(sum(CASE WHEN id % 17 <> 0
                     THEN CASE WHEN id % 10 = 0 THEN cents
                               ELSE cents + 200 END
                     ELSE 0 END) AS BIGINT) AS cur_cents,
       CAST(sum(CASE WHEN id % 10 = 0 THEN cents + 200 ELSE 0 END)
            + sum(CASE WHEN id % 17 = 0
                       THEN CASE WHEN id % 10 = 0 THEN cents
                                 ELSE cents + 200 END
                       ELSE 0 END) AS BIGINT) AS closed_cents
FROM b GROUP BY status ORDER BY status
"""

QUERIES["cdc_binlog_scd2"] = cdc_binlog_scd2
ORACLES["cdc_binlog_scd2"] = CDC_BINLOG_SCD2_SQL
