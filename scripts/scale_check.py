"""sf1-scale self-check (round-4 verdict item 5).

Generates an sf1-equivalent dataset (10x sf0.1, key-shifted so joins
and dedup behave like organically larger data, NOT 10 identical
copies) under ``spark-warehouse/scale_sf1/`` — TESTDATA.md forbids
touching /root/testdata, not creating new local data — then times the
five headline queries at sf0.1 and sf1 and verifies the static
physical-plan shape (exchange / broadcast / sort counts) is identical
at both scales. Near-linear wall-time scaling + unchanged plans is the
evidence SCALE.md's 100 TB arguments rest on.

Run: python scripts/scale_check.py   (writes JSON lines to stdout)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark-warehouse",
    "scale_sf1",
)
COPIES = 10
KEY_OFF = 10_000_000  # beyond any sf0.1 key
DOC_OFF = 1_000_000


def generate(spark) -> None:
    """10 key-shifted copies of the fact tables; dims copied once.
    (_DONE2: round 6 scaled the events table too — previously copied
    once, which made event-keyed ops look artificially flat at sf1.
    _DONE3: round 7 scales the embeddings table for the kNN-classifier
    knee measurement — vec_ids offset per copy, first component
    perturbed per copy so neighbour sets aren't 10-way exact ties.)"""
    if os.path.exists(os.path.join(DST, "_DONE3")):
        return
    os.makedirs(DST, exist_ok=True)
    for dim in ("region", "nation", "supplier", "customer", "part"):
        df = spark.read.parquet(f"{SRC}/{dim}.parquet")
        if dim == "customer":
            parts = [
                df.withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(i * KEY_OFF)
                )
                for i in range(COPIES)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{DST}/{dim}.parquet")

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    o_parts = [
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * KEY_OFF))
        .withColumn("o_custkey", F.col("o_custkey") + F.lit(i * KEY_OFF))
        for i in range(COPIES)
    ]
    o = o_parts[0]
    for p in o_parts[1:]:
        o = o.unionByName(p)
    o.write.mode("overwrite").parquet(f"{DST}/orders.parquet")

    line = spark.read.parquet(f"{SRC}/lineitem.parquet")
    l_parts = [
        line.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * KEY_OFF))
        for i in range(COPIES)
    ]
    ln = l_parts[0]
    for p in l_parts[1:]:
        ln = ln.unionByName(p)
    ln.write.mode("overwrite").parquet(f"{DST}/lineitem.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    d_parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * DOC_OFF))
        # vary the text per copy so near-dup structure scales instead of
        # every document gaining 9 exact twins
        .withColumn("text", F.concat(F.col("text"), F.lit(f" copytag{i}")))
        for i in range(COPIES)
    ]
    d = d_parts[0]
    for p in d_parts[1:]:
        d = d.unionByName(p)
    d.write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    e_parts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * KEY_OFF))
        # shift user_id by the same offset as c_custkey so the
        # events-to-customer as-of joins scale organically
        .withColumn("user_id", F.col("user_id") + F.lit(i * KEY_OFF))
        for i in range(COPIES)
    ]
    e = e_parts[0]
    for p in e_parts[1:]:
        e = e.unionByName(p)
    e.write.mode("overwrite").parquet(f"{DST}/events.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    m_parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * DOC_OFF))
        # perturb the first component per copy so neighbour sets are
        # not 10-way exact ties of the originals
        .withColumn(
            "embedding",
            F.concat(
                F.array(
                    (F.col("embedding")[0] + F.lit(i * 1e-3)).cast("float")
                ),
                F.slice(F.col("embedding"), 2, 10_000),
            ),
        )
        for i in range(COPIES)
    ]
    m = m_parts[0]
    for p in m_parts[1:]:
        m = m.unionByName(p)
    m.write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")
    open(os.path.join(DST, "_DONE3"), "w").close()


def plan_shape(df) -> dict:
    from mysql_cdc_table_spark.plans.audit import formatted_plan

    plan = formatted_plan(df)
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", plan)),
        "broadcasts": len(re.findall(r"\(\d+\) BroadcastExchange\b", plan)),
        "sorts": plan.count("Sort ("),
        "windows": plan.count("Window ("),
    }


def main() -> None:
    from mysql_cdc_table_spark.operators import all_queries
    from mysql_cdc_table_spark.session import get_spark

    spark = get_spark("scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    generate(spark)
    print(
        json.dumps({"stage": "generate", "sec": round(time.perf_counter() - t0, 1)}),
        flush=True,
    )

    # stage the IVF index for BOTH scales, untimed (an index is built
    # once and amortized; bench.py does the same at its single sf)
    import bench as _bench

    t0 = time.perf_counter()
    _bench._stage_ivf(spark, SRC)
    _bench._stage_ivf(spark, DST)
    print(
        json.dumps(
            {"stage": "stage_ivf", "sec": round(time.perf_counter() - t0, 1)}
        ),
        flush=True,
    )

    queries = dict(all_queries())
    queries["ivf_pruned_search"] = _bench._ivf_pruned_search_query
    names = [
        "q1_pricing_summary",
        "q5_regional_revenue",
        "cdc_latest_state",
        "dedup_minhash_signature",
        "text_unigram_logprob",
        # round 6
        "corpus_ngram_novelty",
        "window_zscore_anomaly",
        "join_asof_forward",
        "corpus_cross_source_contamination",
        "text_bigram_logprob",
        # round 7: the kNN-classifier knee — the exact candidate stage
        # is corpus × (corpus/50) pairs, QUADRATIC in corpus size (10×
        # data -> 100× pairs); the IVF variant prunes the per-query
        # candidate factor to ~n_probe/cells of it, same quadratic
        # shape. Expected super-linear ratios, documented in SCALE.md —
        # the 100 TB posture is a FIXED query workload, not a corpus
        # fraction.
        "emb_knn_classify",
        "emb_knn_classify_ivf",
        # round 7b: the bounded-shuffle corpus additions (heavy hitters
        # measured FLAT at 1.0x — only K-counter summaries and the
        # candidate recount shuffle, independent of corpus size)
        "agg_heavy_hitters_mg",
        "corpus_passage_dedup",
        # round 7c: RAKE (doc-local joins — expect linear), CMS (fixed
        # 2048-cell sketch + vocab-sized probe companion), Holt (one
        # keyed window fold over events)
        "text_rake_keywords",
        "agg_count_min_sketch",
        "ts_holt_linear",
        # round 8: the heaviest session-2 shapes (verdict item 5) — the
        # pair-grid KS window, the sorted-frame middle-sum MAD window,
        # the LSH-candidate cross-tab — plus the ISOLATED production
        # IVF search (verdict item 2: cell-pruned top-k over a staged,
        # amortized codebook; the emb_knn_classify_ivf row above times
        # the full agreement harness, so a pruning regression hides in
        # its noise — this row times only what production runs)
        "agg_ks_drift",
        "window_rolling_mad_outlier",
        "dedup_minhash_eval",
        "ivf_pruned_search",
        # round 8 session 2: the new operator shapes — pair-grid
        # robust stats (aggregate-then-fan-out, days²-bounded),
        # hashing-trick featurization (explode + two-phase distinct
        # agg), md5 sampling (pure map-side + grouped agg), Welch
        # pairs (types² broadcast grid over exact sufficient stats)
        "ts_theil_sen_slope",
        "ts_mann_kendall",
        "text_hashing_features",
        "corpus_hash_sample",
        "agg_welch_t_pairs",
        # round 9: chi² (contingency counts, map-side-combinable) and
        # the re-ranked MW-U / Kruskal — their grid prefix sum is now
        # the range-bucketed two-level form; these rows prove the
        # rewrite holds its plan shape and stays ~linear at 10× data
        "agg_chi2_independence",
        "agg_mann_whitney_u",
        "agg_kruskal_rank_sums",
        # round 9 session 2: the new operator shapes — Spearman rides
        # the same two-level grid rank twice; BM25 is explode + bounded
        # aggregates + two-level top-k; Brown–Forsythe is grid medians
        # + decimal sums; Page–Hinkley is a per-user O(frame) fold
        "agg_spearman_corr",
        "text_bm25_scores",
        "agg_brown_forsythe",
        "ts_page_hinkley",
        # round 9 late keys: changepoint (days-grid argmax), cosine
        # histogram (bounded pair grid over a 1/10 sample — expect the
        # quadratic sample growth, the documented MOD ∝ √N knob),
        # PIVOT (one-pass conditional agg)
        "ts_changepoint_binseg",
        "emb_cosine_histogram",
        "sql_pivot",
        # round 10: the remaining cheap diagnostics (verdict item 6) —
        # all collapse to tiny grids after one map-side pass: McNemar a
        # 4-cell paired count, Benford a 9-digit histogram, Ljung–Box
        # per-type days-grid lag windows, term enrichment a source×term
        # grid with broadcast-only joins
        "agg_mcnemar_paired",
        "agg_benford_deviation",
        "ts_ljung_box",
        "corpus_term_enrichment",
        # round 10 new operators: KS/Gini ride the single-checkpoint
        # two-level grid rank; Kendall is a bounded grid-pair broadcast
        # (expect quadratic-in-grid growth only if the value grid
        # grows); dow/TTR are grid profiles with broadcast totals; dim
        # covariance is one map-side pass over dim pairs; Wilson is two
        # hash aggregates; the fuzzy join is vocab-bounded
        # distinct-names-first (corpus size only enters the ONE scan)
        "agg_ks_two_sample",
        "agg_kendall_tau_grid",
        "agg_gini_coefficient",
        "ts_dow_seasonality",
        "text_ttr_profile",
        "emb_dim_covariance",
        "agg_ab_conversion_wilson",
        "join_fuzzy_blocked",
        # round 10 SQL-surface keys: both are one-aggregate plans; the
        # rows pin that SQL-UDF inlining and EXECUTE IMMEDIATE binding
        # stay scan-shaped at 10x data
        "sql_udf_scalar",
        "sql_execute_immediate",
        # round-10 late keys: the Markov matrix is one user-partition
        # window + alphabet grid; the silhouette is a broadcast
        # labels x dims fan-out (linear in vectors x |labels|)
        "ts_markov_transitions",
        "emb_centroid_silhouette",
        "cdc_ivm_join_view",
        # round 11: the two-sided IVM (three broadcast delta terms over
        # per-custkey folds — dim churn enters only the broadcast side),
        # the distinct-count support table (two hash aggs), and the
        # cross-feed FK audit (two max_by reductions + broadcast anti)
        "cdc_ivm_join_view_bidi",
        "cdc_ivm_distinct_view",
        "cdc_fk_orphan_audit",
        # round 12: the persisted-IVF probe (codebook loaded from
        # storage, postings scan partition-pruned to n_probe cells;
        # round 13: nlist ~ sqrt(N) and n_probe ~ sqrt(nlist) are
        # derived per scale, so the candidate set is ~N^(3/4) —
        # sublinear, see the updated IVF note in SCALE.md)
        "ann_ivf_persisted_topk",
        # round 12: the CDC-maintained index — delta re-assign is one
        # broadcast argmin over touched keys only; the exact-oracle
        # side scans the corpus once (linear); index build untimed
        # (plan_shape's first construction persists it)
        "ann_ivf_upsert_topk",
        # round 12: maintained LSH dedup — stored pairs carried for
        # untouched buckets, within-bucket re-join only where the
        # delta reaches; index build untimed (same persist-on-first-
        # construction shape as the IVF keys)
        "dedup_incremental_minhash_pairs",
        # round 12: maintained per-label vector stats — signed fold of
        # the image-carrying delta onto the stored labels-sized base;
        # the corpus is never re-read (plan-audited)
        "emb_label_stats_ivm",
        # round 12 second wave: MIN/MAX and top-k view maintenance
        # (both read the signed-fold support table; two hash aggs /
        # one support-grid window with a WindowGroupLimit pushdown)
        "cdc_ivm_minmax_view",
        "cdc_ivm_topk_view",
        # round 12 second wave: drift scores — PSI is one fact scan to
        # a 10-bin grid; JSD is one doc scan to a sources x langs grid
        "agg_psi_drift",
        "agg_js_divergence",
        # round 12 third wave: time-travel read of the versioned IVM
        # store — the first (untimed) call runs the 4-batch stream;
        # timed calls are resume-noop + one pinned-version read
        "cdc_ivm_view_time_travel",
        # round 12: Holt-Winters — one user-partition window, O(frame)
        # struct fold per row; the frame never leaves its partition
        "ts_holt_winters",
        # round 12 fourth wave: holistic aggregates off the support
        # multiset — median is one support-grid window + broadcast
        # totals; mode is one max_by argmax
        "cdc_ivm_median_view",
        "cdc_ivm_mode_view",
        # round 12: CvM — one fact scan to a 64-cell grid; cumulative
        # window + totals both grid-sized (the PSI/KS family shape)
        "agg_cvm_two_sample",
        # round 12: streamed support store — first (untimed) call runs
        # the 4-batch stream; timed calls resume-noop + read the
        # final version and aggregate the grid
        "cdc_ivm_streaming_minmax",
        # round 12: quantile readout (one support-grid window, three
        # thresholds) and AD (the CvM grid with H(1-H) weighting)
        "cdc_ivm_quantile_view",
        "agg_ad_two_sample",
        # round 12 late keys: the s-curve is data-free (constant);
        # the decomposition's windows run over the (types x days)
        # grid after the daily rollup
        "dedup_lsh_scurve",
        "ts_seasonal_decompose",
        # round 12 late: streamed SCD2 — first (untimed) call runs the
        # 4-batch stream; timed calls resume-noop + read the final
        # version's dimension
        "cdc_scd2_streaming",
        # round 12 late: real binlog v4 -> SCD2 — per-partition
        # encode/decode, one keyed window, one hash aggregate
        "cdc_binlog_scd2",
        # round 12 second session: the IVM second-moment fold is one
        # map-side hash aggregate over the changelog
        "cdc_ivm_corr_view",
        # aggregate-once/iterate-on-the-grid pair: the only event-sized
        # pass is the edge aggregate (PageRank) / the Arrow-batched
        # Gram fold (PCA); iterations are grid-bounded
        "graph_pagerank_trade",
        "emb_pca_power_iter",
        # weighted priority sampling: one scan + WindowGroupLimit top-k
        "sample_weighted_priority",
        # stream-static join: first (untimed) call stages the 4-chunk
        # feed; timed calls re-run the availableNow stream end to end
        "stream_static_enrich",
        # streaming schema evolution: first call encodes + stages the
        # 4-file binlog feed and runs the stream; timed calls
        # resume-noop + read the final version
        "cdc_binlog_streaming_evolution",
        # chained three-way stream-stream join: every timed call runs
        # the full 4-batch availableNow stream through both stateful
        # joins end to end (no resume shortcut — the join state is
        # in-memory per run)
        "stream_stream_three_way",
        # decode -> resize: two Arrow-batched mapInPandas stages,
        # embarrassingly parallel
        "mm_image_resize",
        # ANALYZE-TABLE stats: one Expand-based aggregate over one scan
        "stats_table_profile",
        # negation funnel: one lineage-cut counter window + one
        # time-bounded pair join; no error-probe scan
        "funnel_no_interference",
        # streamed second moments: first (untimed) call runs the
        # 4-batch stream; timed calls resume-noop + read the
        # statuses-sized store
        "cdc_ivm_streaming_corr",
        # lag dashboard: one lane aggregate + a 1-row broadcast
        "cdc_replication_lag",
        # z-order bucket stats: one scan + one map-side aggregate
        "sort_zorder_layout",
        # projection onto the dominant direction: the vector derivation
        # is d2-bounded; the projection is one corpus scan + label agg
        "emb_project_dominant",
        # DPP: first call stages the partitioned fact + dim; timed
        # calls read only the 3 dynamically selected partitions
        "join_dpp_partition_pruned",
        # leakage audit: post-LSH pairs + label-propagation components
        # + two split projections; one grouped count
        "corpus_split_leakage_audit",
        # round 13: legacy pre-5.6.4 temporal codecs through the real
        # binlog framing — per-partition CPU like the other wire rows
        "cdc_binlog_legacy_temporal_roundtrip",
        # round 13: BPE merges — one corpus pass, then 6 iterations on
        # the vocabulary-bounded grid (expected near-flat past the scan)
        "text_bpe_train_merges",
        # round 13: equi-height histograms — one range sort per column
        "stats_column_histogram",
        # round 13: BPE apply — one corpus scan + broadcast vocab join
        "text_bpe_tokenize_apply",
        # round 13: DDL-parsed schema-history decode — wire-codec CPU
        # plus a per-blob DDL replay (statement-count-bounded); round
        # 14 upgraded it to a THREE-generation stream decoded through
        # the in-walk SchemaHistory (MODIFY/CHANGE/RENAME mid-stream)
        "cdc_binlog_ddl_schema_decode",
        # round 14: selectivity estimate — the histogram build (one
        # range sort) + one exact-count scan with 9 conditional sums;
        # the estimate math itself is (K x 9)-grid-sized
        "stats_selectivity_estimate",
        # round 14: z-order box probe — partition-pruned store read +
        # residual filter (store build untimed: it persists during the
        # first plan_shape construction, the IVF-store convention)
        "zorder_point_probe",
        # round 14: records_in_range — same shape as the selectivity
        # estimate (histogram build + one exact-count scan)
        "stats_records_in_range",
        # round 14: streaming DDL migration — every timed call runs
        # the 4-batch stream end to end (encode, per-batch DDL
        # extraction + history-seeded decode, identity migration,
        # versioned folds); expect the wire-codec family's linear
        # per-partition CPU profile
        "cdc_binlog_streaming_ddl_migration",
        # round 15: gbk through BOTH kernels (the vec transcode's cost
        # is two whole-buffer codec calls + numpy scans — wire-codec
        # family profile expected)
        "cdc_binlog_gbk_roundtrip",
        # round 15: the cut-over rename decode — wire-codec family
        # (4 concatenated segments per blob, one history fold each)
        "cdc_binlog_table_rename_decode",
        # round 15: the vec-kernel multi-generation decode — should
        # BEAT the scalar key's 3.5x family row (the hot loop leaves
        # Python)
        "cdc_binlog_ddl_vec_decode",
        # round 15: maintained histogram — base build (two-level rank)
        # + 3 map-side delta folds on the broadcast K-grid
        "stats_histogram_maintained",
        # round 15: within-bucket z-order probe — partition dirs +
        # pushed zkey range (row-group footers); expect sublinear like
        # the point probe
        "zorder_rowgroup_probe",
        # round 15: two interleaved evolving tables, two history folds
        # over the same bytes — wire-codec family (two decode passes)
        "cdc_binlog_ddl_multi_table_decode",
        # round 15: split-parallel schema-history decode (ranges carry
        # their DDL prefix, file-final identity remap)
        "cdc_binlog_ddl_split_decode",
        # round 15: cross-file schema history over a rotated series —
        # DDL-only rotation files keep the fixture encode parallel;
        # decode is per-file vec
        "cdc_binlog_ddl_series_decode",
        # round 15: CONVERT TO CHARACTER SET mid-stream (latin1 and
        # gbk generations in one file, per-generation transcoders)
        "cdc_binlog_charset_migration",
        # round 15: DROP TABLE + re-CREATE, identity join by name
        "cdc_binlog_ddl_drop_recreate",
        # round 15: streaming maintained histogram — per-batch grid
        # folds with versioned K-row state commits
        "stats_histogram_streaming",
    ]
    if len(sys.argv) > 1:  # run a subset: scale_check.py name [name...]
        names = [n for n in names if n in sys.argv[1:]]
    results = {}
    for name in names:
        fn = queries[name]
        rec = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
            shape = plan_shape(fn(spark, sf_dir))
            samples = []
            for _ in range(3):
                t1 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t1)
            rec[label] = {"sec": round(min(samples), 2), "plan": shape}
        rec["ratio"] = round(rec["sf1"]["sec"] / rec["sf0.1"]["sec"], 1)
        rec["plan_stable"] = rec["sf1"]["plan"] == rec["sf0.1"]["plan"]
        results[name] = rec
        print(json.dumps({name: rec}), flush=True)

    print(json.dumps({"stage": "done", "results": results}), flush=True)


if __name__ == "__main__":
    main()
