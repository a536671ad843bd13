"""Re-prove registry queries against their DuckDB oracles at all three
test SFs — the local mimic of the driver gate, for optimization-round
equivalence proofs (every touched query must stay hash-identical).

Usage: python tools/verify_queries.py [<name> ...]
       python tools/verify_queries.py --sf 0.1 [<name> ...]

With no names, every registry query runs, in ``queries()`` order.  A
query that raises is reported as FAIL and the run goes on.  The scale
factor directories are the siblings of ``$SPARK_GRAFT_TEST_SF_DIR``,
the test suite's fixture knob.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from k_means_hadoop_spark import registry
from k_means_hadoop_spark.session import get_spark
from tests.helpers import SF_ROOT
from tests.oracle_harness import compare, duck_connection

SFS = ["0.001", "0.01", "0.1"]


def main() -> None:
    args = sys.argv[1:]
    sfs = SFS
    if args and args[0] == "--sf":
        sfs = [args[1]]
        args = args[2:]
    names = args or list(registry.QUERIES)
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("verify_queries")
    failed = []
    for sf in sfs:
        sf_dir = os.path.join(SF_ROOT, f"sf{sf}")
        con = duck_connection(sf_dir)
        for name in names:
            t0 = time.perf_counter()
            try:
                ok, status = compare(registry.QUERIES[name](spark, sf_dir), con, registry.ORACLES[name])
            except Exception as e:  # noqa: BLE001 - report and continue
                ok, status = False, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            print(f"sf{sf} {name}: {'OK' if ok else 'FAIL'} ({status}) [{dt:.1f}s]", flush=True)
            if not ok:
                failed.append((sf, name, status))
        con.close()
    if failed:
        sys.exit(f"FAILURES: {failed}")
    print("all green")


if __name__ == "__main__":
    main()
