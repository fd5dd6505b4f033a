"""Time a subset of swept bench entries with the bench's own methodology
(untimed warm run, then min-of-3 through the noop sink).

Usage: python scripts/opt_bench.py [name ...]    (no names = full sweep)
Prints one JSON line {name: sec} plus the load average so contended runs
are visible. For optimization iteration only — the driver's numbers come
from bench.py, which is unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from mysql_cdc_table_spark.session import get_spark  # noqa: E402


def main() -> None:
    only = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_pre = os.getloadavg()

    from mysql_cdc_table_spark.operators import all_queries

    queries = dict(all_queries())
    spark = get_spark("opt-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    bench._stage_envelopes(spark, sf_dir)
    bench._stage_binlog(sf_dir, 0.1)
    bench._stage_ivf(spark, sf_dir)
    bench._stage_sink_input(spark, sf_dir)
    queries["cdc_envelope_decode"] = bench._envelope_decode_query
    queries["mysql_binlog_scan"] = bench._mysql_binlog_scan_query
    queries["binlog_gtid_resume"] = bench._binlog_gtid_resume_query
    queries["ivf_pruned_search"] = bench._ivf_pruned_search_query
    queries["binlog_sink_write"] = bench._binlog_sink_write_query

    sweep = only or [
        *bench.HEADLINE, "mysql_binlog_scan",
        "binlog_gtid_resume", "ivf_pruned_search", "binlog_sink_write",
        "agg_kruskal_rank_sums", "agg_ks_two_sample",
        "join_fuzzy_blocked", "cdc_ivm_join_view_bidi",
        "graph_pagerank_trade", "emb_pca_power_iter",
    ]

    # untimed warm pass (JIT/codegen), then min-of-3
    for name in sweep:
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    times: dict[str, float] = {}
    for name in sweep:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.perf_counter() - t0)
        times[name] = round(min(samples), 3)
    print(json.dumps({
        "total": round(sum(times.values()), 3),
        "queries": times,
        "load_pre": [round(x, 2) for x in load_pre],
        "load_end": [round(x, 2) for x in os.getloadavg()],
    }))


if __name__ == "__main__":
    main()
