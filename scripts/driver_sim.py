"""Simulate the driver's verify: smoke entry() at sf0.001, then run every
queries() entry vs its oracle_sql() via DuckDB at the given sf (default
sf0.01), comparing row count + columns + order-insensitive values.

Usage: python scripts/driver_sim.py [sf_dir] [query_name ...]

Spark runs one slot per CPU this process may use (``SPARK_GRAFT_CPUS``,
unless already set); every wall is printed beside that slot count.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# read by session at import: set before anything imports it
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

import __spark_entry__ as e
from mysql_cdc_table_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("driver-sim")
    slots = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"

    t0 = time.time()
    n = e.entry(spark).count()
    print(f"[smoke] entry() rows={n} ({time.time()-t0:.1f}s, {slots})")
    if n <= 0:
        raise SystemExit("[smoke] entry() returned no rows")

    from tests._parity import compare

    qs, oracles = e.queries(), e.oracle_sql()
    fails = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                compare(df, oracles[name], sf_dir, name=name)
                status = "MATCH"
            else:
                rows = df.count()
                status = f"ROWS-ONLY rows={rows}"
        except Exception as ex:  # noqa: BLE001
            status = f"FAIL {type(ex).__name__}: {str(ex)[:300]}"
            fails.append(name)
        print(f"[{name}] {status} ({time.time()-t0:.1f}s, {slots})")
    print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
