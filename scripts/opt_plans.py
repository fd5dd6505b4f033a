"""Capture .explain("formatted") for every swept bench entry.

Usage: python scripts/opt_plans.py <suffix> [name ...]
Writes plans/r15/<query>_<suffix>.txt for each swept entry (or the named
subset). Staging mirrors bench.py so the bench-only entries resolve.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from mysql_cdc_table_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15")
    os.makedirs(out_dir, exist_ok=True)

    from mysql_cdc_table_spark.operators import all_queries

    queries = dict(all_queries())
    spark = get_spark("opt-plans")
    spark.sparkContext.setLogLevel("ERROR")

    bench._stage_envelopes(spark, sf_dir)
    bench._stage_binlog(sf_dir, 0.1)
    bench._stage_ivf(spark, sf_dir)
    bench._stage_sink_input(spark, sf_dir)
    queries["cdc_envelope_decode"] = bench._envelope_decode_query
    queries["mysql_binlog_scan"] = bench._mysql_binlog_scan_query
    queries["binlog_gtid_resume"] = bench._binlog_gtid_resume_query
    queries["ivf_pruned_search"] = bench._ivf_pruned_search_query
    queries["binlog_sink_write"] = bench._binlog_sink_write_query

    sweep = [
        *bench.HEADLINE, "mysql_binlog_scan",
        "binlog_gtid_resume", "ivf_pruned_search", "binlog_sink_write",
        "agg_kruskal_rank_sums", "agg_ks_two_sample",
        "join_fuzzy_blocked", "cdc_ivm_join_view_bidi",
        "graph_pagerank_trade", "emb_pca_power_iter",
    ]
    for name in sweep:
        if only and name not in only:
            continue
        df = queries[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()
