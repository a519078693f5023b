"""The headline oracle gate as one reproducible command: a same-session
interleaved Spark/DuckDB A/B over the 12 bench=True registry rows.

Protocol (only a same-session interleaved read is valid for gate and
weak-flag decisions, because both engines' ambient speed swings ~2-3x
across sessions):
- one Spark session (session factory, full cpu budget) + one DuckDB
  connection (threads = same budget) built up front;
- per row: one untimed Spark warm-up (count) and one untimed DuckDB
  warm-up, then 3 INTERLEAVED timed pairs (Spark collect, then DuckDB
  fetchall — ABAB, so ambient drift lands on both engines equally);
- Spark metric = median of 3 collects; DuckDB metric = min of 3 warm
  runs (DuckDB has no JIT warm-up to amortize; min is its steady state);
- gc.collect() between rows (the bench.py hygiene — drops dead plan
  refs so later rows don't measure a heap-pressured driver);
- gate = sum(spark medians) / sum(duck mins) over all rows, plus
  per-row ratios for weak-flag triage.

Usage: python tools/oracle_gate.py                     # sf0.1 bench rows
       SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/oracle_gate.py
       GATE_ROWS=q_d2_ngram_jaccard,q_d3_minhash_lsh python tools/oracle_gate.py
Prints one JSON line.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import HEADLINE, warm_python_workers  # noqa: E402
from electrician_spark.queries import REGISTRY  # noqa: E402
from electrician_spark.session import cpu_budget, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAIRS = int(os.environ.get("GATE_PAIRS", "3"))
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    rows_env = os.environ.get("GATE_ROWS")
    if rows_env:
        names = [n.strip() for n in rows_env.split(",") if n.strip()]
        missing = [n for n in names if n not in REGISTRY]
        assert not missing, f"GATE_ROWS not in REGISTRY: {missing}"
    else:
        names = HEADLINE
    no_oracle = [n for n in names if REGISTRY[n].oracle is None]
    assert not no_oracle, f"gate rows need oracles: {no_oracle}"

    spark = get_session("electrician-spark-oracle-gate", cpus=cpu_budget())
    warm_python_workers(spark)

    con = duckdb.connect()
    con.execute(f"SET threads={cpu_budget()}")
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    per_row: dict[str, dict[str, float]] = {}
    for name in names:
        qd = REGISTRY[name]
        # untimed warm-ups, one per engine
        qd.spark(spark, SF_DIR).count()
        con.execute(qd.oracle).fetchall()
        s_ts: list[float] = []
        d_ts: list[float] = []
        for _ in range(PAIRS):  # interleaved ABAB
            t0 = time.perf_counter()
            qd.spark(spark, SF_DIR).collect()
            s_ts.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            con.execute(qd.oracle).fetchall()
            d_ts.append(time.perf_counter() - t0)
        sm = statistics.median(s_ts)
        dm = min(d_ts)
        per_row[name] = {
            "spark_sec": round(sm, 4),
            "duck_sec": round(dm, 4),
            "ratio": round(sm / dm, 3),
        }
        gc.collect()

    s_total = sum(v["spark_sec"] for v in per_row.values())
    d_total = sum(v["duck_sec"] for v in per_row.values())
    print(
        json.dumps(
            {
                "metric": "oracle_gate_ratio",
                "value": round(s_total / d_total, 3),
                "spark_total_sec": round(s_total, 4),
                "duck_total_sec": round(d_total, 4),
                "rows": per_row,
                "sf_dir": SF_DIR,
                "pairs": PAIRS,
                "cpus": cpu_budget(),
            }
        )
    )


if __name__ == "__main__":
    main()
