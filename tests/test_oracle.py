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
    """COVERAGE/SCALE/README may only cite full query names that are
    RUNNABLE — in the live registry or the retired archive (short
    'q_a4'-style retirement notes are fine; full names must resolve
    to an executable query+oracle pair)."""
    import os
    import re

    from electrician_spark.retired import RETIRED_REGISTRY

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = set(REGISTRY) | set(RETIRED_REGISTRY)
    stale = []
    for doc in ("COVERAGE.md", "SCALE.md", "README.md"):
        txt = open(os.path.join(root, doc)).read()
        for m in set(re.findall(r"\bq_[a-z0-9]+_[a-z0-9_]+\b", txt)):
            if m not in names:
                stale.append((doc, m))
    assert not stale, stale


def test_retired_archive_disjoint_and_complete():
    """The retired-row archive (electrician_spark.retired) must be
    disjoint from the live registry (a row is live XOR archived), the
    live registry must hold exactly 100 rows (the 2x50 window cap),
    and every archived row must keep a real oracle — archive entries
    are runnable query+oracle pairs, not tombstones."""
    from electrician_spark.retired import RETIRED_REGISTRY

    assert len(REGISTRY) == 100
    overlap = set(REGISTRY) & set(RETIRED_REGISTRY)
    assert not overlap, f"rows both live and archived: {sorted(overlap)}"
    missing_oracle = [n for n, q in RETIRED_REGISTRY.items() if q.oracle is None]
    assert not missing_oracle, missing_oracle
    # every name retired in queries.py commentary must be archived:
    # 'q_xN ... RETIRED' notes are the governance trail
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    txt = open(os.path.join(root, "electrician_spark", "queries.py")).read()
    short = {n.split("_")[0] + "_" + n.split("_")[1] for n in RETIRED_REGISTRY}
    for m in re.findall(r"\(q_([a-z0-9]+)[^)]{0,40}?:? RETIRED", txt):
        assert f"q_{m}" in short, f"q_{m} marked RETIRED but not archived"


def _archived_names():
    from electrician_spark.retired import RETIRED_REGISTRY

    return [n for n, q in RETIRED_REGISTRY.items() if q.oracle is not None]


@pytest.mark.parametrize("name", _archived_names())
def test_archived_query_matches_oracle(spark, duck, name):
    from electrician_spark.retired import RETIRED_REGISTRY

    qd = RETIRED_REGISTRY[name]
    oracle_pdf = duck.execute(qd.oracle).fetchdf()
    res = compare(name, qd.spark(spark, SF_ORACLE), oracle_pdf)
    assert res.ok, res.detail
