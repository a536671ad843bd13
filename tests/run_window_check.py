"""Driver-mimic: run the first N registry entries at a given sf_dir and
compare against their DuckDB oracles, printing one status line per query.

Usage: python tests/run_window_check.py [sf_dir] [n_first] [names...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from k_means_hadoop_spark import registry
from oracle_harness import compare, duck_connection


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    only = sys.argv[3:]

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .appName("window-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    names = only if only else list(registry.QUERIES)[:n]
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            ok, msg = compare(registry.QUERIES[name](spark, sf_dir), con, registry.ORACLES[name])
            dt = time.time() - t0
            if ok:
                n_pass += 1
            else:
                n_fail += 1
            print(f"{'PASS' if ok else 'FAIL'} {name} ({dt:.1f}s) {msg if not ok else ''}", flush=True)
        except Exception as e:  # noqa: BLE001 - report and continue
            n_fail += 1
            print(f"ERR  {name} ({time.time() - t0:.1f}s) {type(e).__name__}: {e}", flush=True)
    print(f"\nsummary: pass={n_pass} fail={n_fail}", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
