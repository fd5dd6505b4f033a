"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through the noop sink (full materialization, no
collect-to-driver cost, no result skipping). The headline set covers the
engine's pillars: scan/agg (q1), fact-fact + broadcast joins (q3/q5),
windows (topk), CDC (changelog scan, latest-state, envelope decode),
text/dedup (fingerprint, minhash signatures), vectors (cosine top-k),
sessionization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mysql_cdc_table_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "topk_per_group",
    "cdc_changelog_scan",
    "cdc_latest_state",
    "cdc_envelope_decode",
    "text_fingerprint",
    "dedup_minhash_signature",
    "ann_cosine_topk",
    "stream_session_window",
    "join_asof_orders",
    "dedup_exact",
    "text_tfidf_top_terms",
    "stream_tumbling_counts",
]

_BINLOG_FIXTURE_VERSION = 2  # bump to force a re-stage of the files

_BINLOG_TGT = None  # built lazily (pyspark.sql.types import at call time)


def _binlog_target():
    global _BINLOG_TGT
    if _BINLOG_TGT is None:
        from pyspark.sql import types as T

        _BINLOG_TGT = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_custkey", T.LongType()),
                T.StructField("o_orderstatus", T.StringType()),
                T.StructField("o_totalprice", T.DecimalType(28, 6)),
                T.StructField("o_orderdate", T.TimestampType()),
                T.StructField("o_orderpriority", T.StringType()),
            ]
        )
    return _BINLOG_TGT


def _binlog_dir(sf_dir: str) -> str:
    return _bench_tmp_dir("bench_mysql_binlog", sf_dir)


def _stage_binlog(sf_dir: str, sf: float | None) -> None:
    """Stage REAL binlog v4 files once (untimed): 8 rotated checksummed
    files of 10-row write transactions over an orders-like schema incl.
    a DECIMAL(28,6) column (exercises the round-7 wide-decimal limb
    path). Deterministic bytes, cached on disk across bench runs —
    building the fixture is scaffolding; the timed entry measures only
    the scan+decode a user's query runs."""
    import datetime as dt
    from decimal import Decimal
    from pathlib import Path

    from mysql_cdc_table_spark.sources.mysql_binlog import build_binlog_file

    d = Path(_binlog_dir(sf_dir))
    n_txns = max(2000, int((sf or 0.1) * 200_000))  # sf0.1 -> 20k txns
    # hidden: the parallel scan lists the dir and must see only
    # binlog files (dotfiles are skipped by every read path)
    marker = d / f".staged_v{_BINLOG_FIXTURE_VERSION}_{n_txns}"
    if marker.exists():
        return
    d.mkdir(parents=True, exist_ok=True)
    for old in d.iterdir():  # incl. old hidden markers
        old.unlink()
    tgt = _binlog_target()
    per_file = n_txns // 8
    base = dt.datetime(2024, 1, 1)
    gno = 0
    for fi in range(8):
        first_gno = gno + 1
        txns = []
        for _ in range(per_file):
            gno += 1
            txns.append(
                {
                    "gno": gno,
                    "op": "w",
                    "rows": [
                        {
                            "o_orderkey": gno * 10 + r,
                            "o_custkey": (gno * 7 + r) % 1500,
                            "o_orderstatus": "OF P"[(gno + r) % 3::3][:1],
                            "o_totalprice": Decimal(
                                (gno * 104729 + r * 31) % 10**13
                            ).scaleb(-6),
                            "o_orderdate": base
                            + dt.timedelta(seconds=gno % 86400),
                            "o_orderpriority": f"{(gno + r) % 5 + 1}-PRIO",
                        }
                        for r in range(10)
                    ],
                }
            )
        blob = build_binlog_file(
            "bench", "orders", tgt, txns, checksum=True,
            # PREVIOUS_GTIDS head per file (fixture v2): what MySQL
            # writes at every rotation — lets the resume entry prune
            # whole files off one event read
            previous_gtids=(
                {b"\x11" * 16: [(1, first_gno)]}
                if first_gno > 1
                else {b"\x11" * 16: []}
            ),
        )
        (d / f"binlog.{fi + 1:06d}").write_bytes(blob)
    marker.touch()


def _mysql_binlog_scan_query(spark, sf_dir):
    """17th entry: the REAL binlog v4 scan through the columnar numpy
    kernel (mysql_binlog_vec) — regression-locks the round-6 6.1×
    kernel and the round-7 wide-decimal limb path in driver-visible
    bench history (VERDICT r06 task 2). 8 rotated files = 8 parallel
    decode tasks."""
    from mysql_cdc_table_spark.sources.mysql_binlog import mysql_binlog_read

    return mysql_binlog_read(
        spark, _binlog_dir(sf_dir), _binlog_target(), "bench", "orders"
    )


def _binlog_gtid_resume_query(spark, sf_dir):
    """18th entry: GTID-positioned resume over the same staged series
    (round-7 capability): restart from the LAST file's first gno — the
    checkpoint-restart shape. Planning reads each file's
    PREVIOUS_GTIDS head (one tiny read per file), start-side series
    pruning drops the 7 earlier files unscheduled, and only the last
    file range-decodes. Wall time tracks one file + planning, not the
    series — the regression lock for the resume path."""
    import os as _os

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        binlog_prev_gtids_uncovered,
        mysql_binlog_read_parallel,
    )

    d = _binlog_dir(sf_dir)
    heads = [
        binlog_prev_gtids_uncovered(_os.path.join(d, n))
        for n in sorted(_os.listdir(d))
        if n.startswith("binlog.")
    ]
    start_after = max(h for h in heads if h is not None) - 1
    return mysql_binlog_read_parallel(
        spark, d, _binlog_target(), "bench", "orders",
        start_after_gno=start_after,
    )


def _ivf_dir(sf_dir: str) -> str:
    return _bench_tmp_dir("bench_ivf_index", sf_dir)


_IVF_N_PROBE: dict = {}  # sf_dir -> derived probe width (set by _stage_ivf)


def _stage_ivf(spark, sf_dir: str) -> None:
    """Build the IVF index once, untimed: k-means cell assignments
    joined onto the embeddings (nlist ~ sqrt(N), protocol 12), plus
    the (cid, centroid) codebook — at steady state an index is built
    once and amortized over every query, so training cost does not
    belong in the search timing. n_probe ~ sqrt(nlist) is derived
    here, untimed, for the same reason."""
    from mysql_cdc_table_spark.functions.similarity import (
        default_nprobe,
        kmeans_cells,
        trained_centroids,
    )

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ec = e.join(kmeans_cells(spark, sf_dir), "vec_id")
    ec.write.mode("overwrite").parquet(os.path.join(_ivf_dir(sf_dir), "ec"))
    cents = trained_centroids(ec)
    cents.write.mode("overwrite").parquet(
        os.path.join(_ivf_dir(sf_dir), "cents")
    )
    _IVF_N_PROBE[sf_dir] = default_nprobe(cents.count())


def _ivf_pruned_search_query(spark, sf_dir):
    """19th entry: the PRODUCTION IVF path isolated (round-7 verdict
    item 2) — cell-pruned top-k search over the pre-staged, amortized
    codebook with the fixed labeled query set. The registry key
    emb_knn_classify_ivf deliberately contains the quadratic exact
    harness + training, so its 6.3s timing cannot expose a pruning
    regression; THIS number moves when pruning breaks."""
    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.functions.similarity import ivf_pruned_search
    from mysql_cdc_table_spark.operators.round7 import KNN_IVF_K

    ec = spark.read.parquet(os.path.join(_ivf_dir(sf_dir), "ec"))
    cents = spark.read.parquet(os.path.join(_ivf_dir(sf_dir), "cents"))
    q = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        # FIXED query workload: the % 50 sample capped below the scale
        # generator's key offset, so the query count does not grow with
        # the corpus (a corpus-fraction query set turns the scale check
        # quadratic — the exact-kNN knee, measured separately). At the
        # bench sf this filter is a no-op.
        .filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 10_000_000))
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    return ivf_pruned_search(ec, cents, q, _IVF_N_PROBE[sf_dir], KNN_IVF_K)


def _sink_dirs(sf_dir: str) -> tuple[str, str]:
    return (
        _bench_tmp_dir("bench_sink_changelog", sf_dir),
        _bench_tmp_dir("bench_sink_binlogs", sf_dir),
    )


_SINK_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _stage_sink_input(spark, sf_dir: str) -> None:
    """Materialize the changelog once, untimed: the timed entry should
    measure the SINK (encode + file write + chain commit) and the
    read-back, not the synthetic changelog derivation.

    r15 (guide §2): the staged partition count IS the sink's encode
    parallelism (one file per non-empty partition), and the old
    constant 8 left 3/4 of a 32-core box idle through the pure-Python
    encode. Scale-adaptively partition by the scheduler's own
    parallelism (so the driver's lower-core runs stage proportionally
    fewer, bigger files — never a constant tuned to either box).
    Measured at sf0.1: write 1.55s -> 0.97s, read-back 0.70 -> 0.55."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_changelog

    in_dir, _ = _sink_dirs(sf_dir)
    (
        synthetic_changelog(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "__gtid")
        .write.mode("overwrite")
        .parquet(in_dir)
    )


def _binlog_sink_write_query(spark, sf_dir):
    """20th entry: the round-8 WRITE path — a staged changelog goes out
    through df.write.format("mysql_binlog") (CRC32, per-partition
    files, ROTATE-chain commit) and the fresh files read back through
    the standard reader. The eager write runs inside this call, so the
    timed number covers encode + write + decode — the full replay-file
    round trip a CDC archival job pays."""
    from mysql_cdc_table_spark.sources.datasource import register
    from mysql_cdc_table_spark.sources.mysql_binlog import (
        mysql_binlog_read,
    )

    register(spark)
    in_dir, out_dir = _sink_dirs(sf_dir)
    (
        spark.read.parquet(in_dir)
        .write.format("mysql_binlog")
        .option("schema_ddl", _SINK_DDL)
        .option("database", "tpch")
        .option("table", "orders")
        .mode("overwrite")
        .save(out_dir)
    )
    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA

    return mysql_binlog_read(
        spark, out_dir, ORDERS_TARGET_SCHEMA, "tpch", "orders"
    )


def _bench_tmp_dir(prefix: str, sf_dir: str) -> str:
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")


def _envelope_dir(sf_dir: str) -> str:
    return _bench_tmp_dir("bench_cdc_envelopes", sf_dir)


def _stage_envelopes(spark, sf_dir: str) -> None:
    """Materialize the synthetic JSON envelopes once, untimed. Building
    them (to_json over a synthesized changelog) is bench scaffolding —
    a real envelope stream arrives as bytes from Kafka/files — so the
    timed entry measures only what a user's query runs: the from_json
    decode + update-unnest over already-existing envelope records."""
    from mysql_cdc_table_spark.cdc.synthetic import synthetic_envelopes

    synthetic_envelopes(spark, sf_dir).write.mode("overwrite").parquet(
        _envelope_dir(sf_dir)
    )


def _envelope_decode_query(spark, sf_dir):
    """Timed half of cdc_envelope_roundtrip: decode pre-staged envelope
    records (the registry key keeps the full roundtrip for the
    correctness oracle; this bench entry isolates the engine's decode
    cost — protocol 3, round 5)."""
    from mysql_cdc_table_spark.cdc.queries import ORDERS_TARGET_SCHEMA
    from mysql_cdc_table_spark.cdc.source import decode_envelope

    env = spark.read.parquet(_envelope_dir(sf_dir))
    return decode_envelope(
        env, ORDERS_TARGET_SCHEMA, database="tpch", table="orders"
    )


def _cpu_telemetry() -> dict:
    """CPU frequency + thermal snapshot (r13 verdict item 4: recorded
    alongside load averages so an unreproducible wall can be told
    apart from a downclocked/thermally-limited box). Both sources are
    best-effort — containers often hide the thermal zones."""
    import glob

    out: dict = {}
    mhz: list[float] = []
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("cpu mhz"):
                    mhz.append(float(line.split(":")[1]))
    except (OSError, ValueError):
        pass
    if mhz:
        out["cpu_mhz_mean"] = round(sum(mhz) / len(mhz))
        out["cpu_mhz_min"] = round(min(mhz))
        out["cpu_mhz_max"] = round(max(mhz))
    temps: list[float] = []
    for p in glob.glob("/sys/class/thermal/thermal_zone*/temp"):
        try:
            with open(p) as f:
                temps.append(int(f.read().strip()) / 1000.0)
        except (OSError, ValueError):
            pass
    if temps:
        out["cpu_temp_c_max"] = round(max(temps), 1)
    return out


def main() -> None:
    # Sampled before ANY Spark work: with the JVM not yet started, the
    # 1-minute load average is other processes' — the pre-existing box
    # contention that inflated BENCH_r03 (+10% driver vs -11% clean).
    load_pre = os.getloadavg()
    cpu_pre = _cpu_telemetry()
    ncpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from mysql_cdc_table_spark.operators import all_queries

    queries = all_queries()
    spark = get_spark("spark-cdc-table-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up on a tiny scan (not counted)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # stage envelope records + real binlog files (untimed) and register
    # the bench-only entries
    _stage_envelopes(spark, sf_dir)
    _stage_binlog(sf_dir, sf)
    queries = dict(queries)
    queries["cdc_envelope_decode"] = _envelope_decode_query
    queries["mysql_binlog_scan"] = _mysql_binlog_scan_query
    queries["binlog_gtid_resume"] = _binlog_gtid_resume_query
    _stage_ivf(spark, sf_dir)
    queries["ivf_pruned_search"] = _ivf_pruned_search_query
    _stage_sink_input(spark, sf_dir)
    queries["binlog_sink_write"] = _binlog_sink_write_query

    # Three runs per query, report the fastest warm one: the first run
    # pays one-off whole-stage-codegen compilation + plan construction
    # (~1-1.5s, measured), which a long-lived cluster amortizes away;
    # min-of-3 also clips single-run GC/scheduler noise (measured ±15%
    # between identical bench invocations on this box).
    def timed(name: str) -> float:
        fn = queries[name]
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return round(min(samples), 3)

    # The swept entry list (protocol 11 adds the last two): the 15
    # headline queries + the staged binlog/IVF entries + the contract
    # locks — agg_kruskal (two-level grid rank), agg_ks (bucketed
    # prefix grid reuse), join_fuzzy_blocked (distinct-names-first
    # blocked fuzzy join), cdc_ivm_join_view_bidi (signed-delta
    # bilinear IVM fold), and the aggregate-once/iterate-on-the-grid
    # pair — graph_pagerank_trade (one event-sized edge aggregate,
    # lineage-cut, 3 broadcast grid iterations) and emb_pca_power_iter
    # (Arrow-batched exact Gram fold + fixed-point matvecs): a
    # regression that rescans the fact per iteration step moves these
    # two numbers by integer factors.
    _SWEEP = [
        *HEADLINE, "mysql_binlog_scan",
        "binlog_gtid_resume", "ivf_pruned_search", "binlog_sink_write",
        "agg_kruskal_rank_sums", "agg_ks_two_sample",
        "join_fuzzy_blocked", "cdc_ivm_join_view_bidi",
        "graph_pagerank_trade", "emb_pca_power_iter",
    ]

    # One full UNTIMED sweep first: progressive C2 JIT keeps lowering
    # query times across dozens of invocations (measured: without this,
    # the q1 anchor lands 2.4x slower at sweep start than at sweep end
    # on a fresh JVM, and the total swings ±20% between identical
    # invocations). A long-lived cluster amortizes compilation away, so
    # the warm steady state is the honest number; it also makes the
    # anchor-drift sentinel near-zero when the box is healthy.
    for name in _SWEEP:
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Contention sentinel: min-of-3 clips scheduler noise but not
    # box-level contention lasting the whole run (r3's driver bench read
    # +10% while a clean re-run read -11%). Two self-qualifying signals
    # ride the JSON line: (a) the pre-sweep 1-minute load average; (b)
    # the q1 anchor re-timed after the full sweep. Drift beyond the
    # documented ±15% band flags contention in EITHER direction:
    # BENCH_r12 recorded drift −29.9% (the box was busy at sweep start
    # and freed mid-run — every query uniformly inflated) yet passed
    # the old positive-only check, and its pre-run load of 5.5 passed
    # the old 0.5*ncpus (=16) gate while measurably slowing the
    # single-JVM run (~13% vs the judge's idle re-run). The load gate
    # is now an absolute 2.0 (r12 verdict item 3).
    def sweep(load_pre_sweep) -> dict:
        times: dict[str, float] = {}
        for name in _SWEEP:
            times[name] = timed(name)
        anchor_first = times[HEADLINE[0]]
        anchor_last = timed(HEADLINE[0])
        load_post = os.getloadavg()
        drift = round(100.0 * (anchor_last - anchor_first) / anchor_first, 1)
        busy_before = load_pre_sweep[0] > 2.0
        return {
            "value": round(sum(times.values()), 3),
            "queries": times,
            "anchor_first_sec": anchor_first,
            "anchor_last_sec": anchor_last,
            "anchor_drift_pct": drift,
            "load_avg_pre_spark": [round(x, 2) for x in load_pre_sweep],
            "load_avg_end": [round(x, 2) for x in load_post],
            "contended": bool(busy_before or abs(drift) > 15.0),
        }

    # One retry when the sentinel trips (round-5 driver run was
    # contended end-to-end): sleep long enough for the 1-minute load
    # average to shed the other processes' spike — and our own idle
    # JVM's — then re-sweep and report the faster attempt. The per-query
    # timing method is unchanged (still protocol 3); `attempts` records
    # that the retry fired.
    result = sweep(load_pre)
    attempts = 1
    if result["contended"]:
        time.sleep(60)
        retry = sweep(os.getloadavg())
        attempts = 2
        if retry["value"] <= result["value"]:
            result = retry

    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": result["value"],
                "unit": "sec",
                "queries": result["queries"],
                "sf": sf,
                # Timing-methodology version so cross-round deltas can
                # tell a regression from a protocol change (the r03->r04
                # gap was methodology; the JSON didn't say so then).
                # 1: min-of-3 per query (r01-r03)
                # 2: + full untimed warm-up sweep first (r04)
                # 3: + cdc_envelope_roundtrip entry replaced by
                #    cdc_envelope_decode (envelope build staged untimed;
                #    decode half timed) (r05); contended sweeps retry
                #    once after a 60s cooldown, faster attempt reported
                #    (r06, per-query method unchanged)
                # 4: + mysql_binlog_scan entry (REAL binlog v4 files
                #    through the columnar kernel; fixture staged untimed
                #    and disk-cached) — per-query method unchanged, the
                #    TOTAL grows by one entry vs protocol 3 (r07)
                # 5: + binlog_gtid_resume entry (restart from the last
                #    file's gno; fixture v2 adds PREVIOUS_GTIDS heads)
                #    — TOTAL grows by one more entry (r07)
                # 6: + ivf_pruned_search entry (production IVF search
                #    isolated from the emb_knn_classify_ivf agreement
                #    harness; index staged untimed) — TOTAL grows by
                #    one more entry (r08)
                # 7: + binlog_sink_write entry (round-8 write path:
                #    staged changelog -> binlog v4 files -> read-back;
                #    encode + write + decode in one number) — TOTAL
                #    grows by one more entry (r08)
                # 8: + agg_kruskal_rank_sums entry (locks the round-9
                #    range-bucketed two-level grid-ranking path shared
                #    by MW-U/Kruskal/Spearman; a regression that
                #    re-serializes the rank sort moves this number) —
                #    TOTAL grows by one more entry (r09)
                # 9: + agg_ks_two_sample entry (locks the round-10
                #    TWO-column bucketed prefix + single-checkpoint
                #    grid-reuse path; a regression that re-scans the
                #    fact per branch moves this number) — TOTAL grows
                #    by one more entry (r10)
                # 10: + join_fuzzy_blocked and cdc_ivm_join_view_bidi
                #    entries (lock the blocked-fuzzy-join and the
                #    bilinear signed-delta IVM contracts) — TOTAL grows
                #    by two more entries (r12)
                # 11: + graph_pagerank_trade and emb_pca_power_iter
                #    entries (lock the aggregate-once/iterate-on-the-
                #    grid contracts: the fact scans ONCE, iterations
                #    run on lineage-cut grids) — TOTAL grows by two
                #    more entries (r12, second session)
                # 12: contention gate hardened (r13): pre-run load gate
                #    absolute 2.0 (was 0.5*ncpus=16 — BENCH_r12 ran at
                #    load 5.5 and passed), anchor drift flags BOTH
                #    directions (r12's −29.9% passed the positive-only
                #    check). Per-query timing method unchanged; the
                #    cooldown retry fires more readily.
                # 13: + cpu_pre/cpu_end telemetry (CPU MHz min/mean/max
                #    from /proc/cpuinfo, max thermal-zone temp where
                #    exposed) — r13 verdict item 4; per-query timing
                #    method unchanged.
                # 14: - the packed-binlog scan entry (the self-invented
                #    packed format was retired; binlog v4 is the only
                #    on-disk CDC format, still timed by
                #    mysql_binlog_scan). The sweep lost one entry, so
                #    totals are not comparable with protocol 13; a
                #    per-entry diff reports the entry as dropped.
                "protocol": 14,
                "anchor": HEADLINE[0],
                "anchor_first_sec": result["anchor_first_sec"],
                "anchor_last_sec": result["anchor_last_sec"],
                "anchor_drift_pct": result["anchor_drift_pct"],
                "load_avg_pre_spark": result["load_avg_pre_spark"],
                "load_avg_end": result["load_avg_end"],
                "ncpus": ncpus,
                "attempts": attempts,
                "contended": result["contended"],
                "cpu_pre": cpu_pre,
                "cpu_end": _cpu_telemetry(),
            }
        )
    )


if __name__ == "__main__":
    main()
