"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 shape, SURVEY §7.1)
on sf0.001. ``queries()`` / ``oracle_sql()`` expose the declared-query
registry from :mod:`electrician_spark.queries` — one entry per
implemented operator from SURVEY.md §2, each with a DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from electrician_spark.queries import REGISTRY  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q_a1_pricing_summary"].spark(spark, SMOKE_SF_DIR)


def last_checked() -> dict[str, int]:
    """Query name -> the newest round N whose ``CORRECTNESS_rN.json``
    record (a JSON object keyed by query name) has a row for it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry row, least recently checked first (never-checked
    rows lead). The external gate checks only the first 50 rows, so
    each round checks the rows the previous rounds left out."""
    last = last_checked()
    return {name: REGISTRY[name].spark for name in sorted(REGISTRY, key=lambda n: last.get(n, 0))}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle is not None}
