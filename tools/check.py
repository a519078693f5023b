"""Fast iteration checker: run registry queries vs the DuckDB oracle.

Usage: python tools/check.py [--sf DIR] [name ...]
No names = all queries with oracles.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from electrician_spark.queries import REGISTRY  # noqa: E402
from electrician_spark.session import get_session  # noqa: E402
from oracle_harness import compare, duckdb_conn  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or [n for n, q in REGISTRY.items() if q.oracle is not None]
    spark = get_session("check", cpus=8, shuffle_partitions=8)
    duck = duckdb_conn(args.sf)

    failures = 0
    for name in names:
        qd = REGISTRY[name]
        t0 = time.time()
        try:
            if qd.oracle is None:
                n = qd.spark(spark, args.sf).count()
                print(f"  {name}: rows-only check, {n} rows ({time.time()-t0:.1f}s)")
                continue
            oracle_pdf = duck.execute(qd.oracle).fetchdf()
            res = compare(name, qd.spark(spark, args.sf), oracle_pdf)
        except Exception as e:  # noqa: BLE001
            print(f"✗ {name}: EXCEPTION {type(e).__name__}: {e}")
            failures += 1
            continue
        mark = "✓" if res.ok else "✗"
        extra = "" if res.ok else f"  {res.detail}"
        print(f"{mark} {name}: {res.spark_rows} rows ({time.time()-t0:.1f}s){extra}")
        failures += 0 if res.ok else 1
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
