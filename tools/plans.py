"""Write ``.explain("formatted")`` for the timed query series into
OUT_DIR/<query>.txt, one file per query.

Usage: python tools/plans.py OUT_DIR [name ...]
No names = the 12 bench=True headline queries + the EXTRA_QUERIES
series from bench.py (the full timed surface). OUT_DIR is created if
needed; keep it outside version control (``plans/`` is ignored), and
capture two directories to compare plans before and after a change.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA_QUERIES, HEADLINE  # noqa: E402
from electrician_spark.benchvariants import resolve_variant  # noqa: E402
from electrician_spark.queries import REGISTRY  # noqa: E402
from electrician_spark.session import cpu_budget, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    out_dir = sys.argv[1]
    names = sys.argv[2:] or HEADLINE + EXTRA_QUERIES
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("plans", cpus=cpu_budget())
    failures = 0
    for name in names:
        # Same resolution as bench.py: frozen-artifact variants are the
        # timed form, so their plan is the one on record.
        fn = resolve_variant(name, SF_DIR) or REGISTRY[name].spark
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as e:  # noqa: BLE001
            print(f"FAILED {name}: {type(e).__name__}: {e}")
            failures += 1
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
