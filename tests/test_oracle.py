"""Every declared query must hash-match its DuckDB oracle at sf0.01 —
the same comparison the driver runs (CORRECTNESS gate)."""

from __future__ import annotations

import pytest

from electrician_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duckdb_conn

_WITH_ORACLE = [n for n, q in REGISTRY.items() if q.oracle is not None]


@pytest.fixture(scope="module")
def duck():
    con = duckdb_conn(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    qd = REGISTRY[name]
    oracle_pdf = duck.execute(qd.oracle).fetchdf()
    res = compare(name, qd.spark(spark, SF_ORACLE), oracle_pdf)
    assert res.ok, res.detail


def test_driver_window_rotation_invariant():
    """The external gate checks only the first 50 rows of
    ``__spark_entry__.queries()``. They must be the least recently
    checked rows, judged against the CORRECTNESS_r*.json records, so no
    row goes more than one round without a correctness check."""
    import __spark_entry__

    order = list(__spark_entry__.queries())
    assert sorted(order) == sorted(REGISTRY)
    last = __spark_entry__.last_checked()
    window, rest = order[:50], order[50:]
    assert max(last.get(n, 0) for n in window) <= min(last.get(n, 0) for n in rest)


def test_docs_reference_only_runnable_queries():
    """COVERAGE/SCALE/README may only cite full query names that are in
    the live registry (short 'q_a4'-style mentions are fine; a full name
    must resolve to an executable query+oracle pair)."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stale = []
    for doc in ("COVERAGE.md", "SCALE.md", "README.md"):
        txt = open(os.path.join(root, doc)).read()
        for m in set(re.findall(r"\bq_[a-z0-9]+_[a-z0-9_]+\b", txt)):
            if m not in REGISTRY:
                stale.append((doc, m))
    assert not stale, stale


def test_registry_fills_both_driver_windows():
    """The external gate checks two disjoint 50-row windows, so the
    live registry holds exactly 100 rows."""
    assert len(REGISTRY) == 100
