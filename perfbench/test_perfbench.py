"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The generator, statistics and contract tests need no Spark. The smoke
tests start one local session and run every workload at a tiny size.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import measure  # noqa: E402
import spec  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# --- generators ---------------------------------------------------------------------


def test_dedup_corpus_is_deterministic_per_seed():
    assert gen.dedup_documents(7, 300) == gen.dedup_documents(7, 300)
    assert gen.dedup_documents(7, 300) != gen.dedup_documents(8, 300)


def test_simhash_reference_matches_the_registry_oracle(tmp_path):
    import duckdb
    from electrician_spark.queries import REGISTRY

    ids, texts = gen.dedup_documents(4, 600)
    d = gen.dedup_corpus(str(tmp_path), 4, 600)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(d, 'documents.parquet')}'")
    oracle = {(a, b): h for a, b, h in con.execute(REGISTRY["q_d4_simhash"].oracle).fetchall()}
    assert oracle and gen.simhash_pairs(ids, texts) == oracle


def test_planted_pairs_are_the_whole_answer():
    ids, texts = gen.dedup_documents(3, 400)
    ref = gen.planted_pairs(ids, texts)
    sets = [gen.shingles(t) for t in texts]
    brute = {
        (ids[i], ids[j]): gen.jaccard(sets[i], sets[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if gen.jaccard(sets[i], sets[j]) >= gen.JACCARD_MIN
    }
    assert brute == ref
    assert len(ref) >= 4 * 3  # every cluster contributes pairs
    assert set(gen.components(ref).values()) == {0, 100, 200, 300}


def _schedule_files(seed: int, n_files: int = 40):
    s = gen.EventSchedule(seed)
    files = [s.file_events(f, f * 0.25, 100, 0.25) for f in range(n_files)]
    files.append(s.flush())
    return s, files


def test_event_schedule_is_deterministic_and_complete():
    s1, f1 = _schedule_files(11)
    _, f2 = _schedule_files(11)
    _, f3 = _schedule_files(12)
    assert f1 == f2 and f1 != f3
    written = [(k, q) for f in f1 for k, q, _ in f]
    assert set(written) == set(s1.generated)  # every event is written...
    assert len(written) > len(set(written))  # ...some twice
    per_key: dict[str, list[int]] = {}
    for k, q in written:
        per_key.setdefault(k, []).append(q)
    assert any(qs != sorted(qs) for qs in per_key.values())  # and some out of order
    for k, qs in per_key.items():
        assert set(qs) == set(range(1, max(qs) + 1))  # seqs are dense per key


def test_cached_parquet_regenerates_a_truncated_file(tmp_path):
    import pyarrow as pa

    path = str(tmp_path / "t" / "x.parquet")
    table = pa.table({"a": [1, 2, 3]})
    gen.cached_parquet(path, lambda: table)
    with open(path, "r+b") as f:
        f.truncate(10)
    gen.cached_parquet(path, lambda: table)
    import pyarrow.parquet as pq

    assert pq.read_table(path).equals(table)
    assert os.listdir(tmp_path / "t") == ["x.parquet"]


# --- statistics and spans ------------------------------------------------------------


def test_tail_keeps_ten_samples_beyond_it():
    assert measure.tail(list(range(10))) is None
    assert measure.tail(list(range(11))) == (100.0 / 11, 0)
    pct, v = measure.tail([float(i) for i in range(1000)])
    assert (pct, v) == (99.0, 989.0)
    assert sum(1 for x in range(1000) if x > v) == 10


def test_self_time_subtracts_children():
    t = measure.Tracer(True)
    with t.span("pass"):
        with t.span("row"):
            time.sleep(0.02)
        time.sleep(0.01)
    st = t.self_times()
    assert st["row"] == pytest.approx(t.spans[1].duration)
    assert st["pass"] == pytest.approx(t.spans[0].duration - t.spans[1].duration)


# --- the contract ----------------------------------------------------------------------


BENCHMARK = spec.load(ROOT)


def test_metric_names_and_counts():
    e2e = [m["name"] for m in BENCHMARK["end_to_end"]]
    layers = [m["name"] for m in BENCHMARK["per_layer"]]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    assert len(set(e2e + layers)) == len(e2e) + len(layers)
    assert all(NAME.match(n) for n in e2e + layers)
    setup = [m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s"]
    assert setup and (setup[0]["unit"], setup[0]["better"]) == ("s", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])


def test_every_workload_and_layer_metric_is_mapped():
    import workloads

    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.RUNNERS) == list(spec.ROWS)
    assert sorted(m["name"] for m in BENCHMARK["per_layer"]) == sorted(spec.MOVES)


def test_exits_nonzero_without_the_engine(tmp_path):
    doc = BENCHMARK
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in doc["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    cmd = doc["command"] + ["--workload", doc["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# --- smoke runs of every workload at a tiny size -------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from electrician_spark.session import get_session

    s = get_session("perfbench-tests", cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def _bench(spark, tmp_path, workload: str, trace: bool):
    import workloads

    return workloads.Bench(
        spark=spark, workload=workload, seed=1, seconds=0.0, trace=trace, cores=2,
        work_dir=str(tmp_path), t_start=time.perf_counter(), tracer=measure.Tracer(trace),
        jvm_pid=spark.sparkContext._gateway.proc.pid,
    )


END_TO_END = {m["name"] for m in BENCHMARK["end_to_end"]}


@pytest.mark.parametrize("trace", [False, True])
def test_dedup_growth_smoke(spark, tmp_path, trace):
    import workloads

    b = _bench(spark, tmp_path, "dedup_growth", trace)
    workloads.batch_workload(b, workloads.dedup_inputs(b, 200), workloads.dedup_inputs(b, 300))
    assert b.failed == 0 and b.attempted == 4 * (workloads.WARM_PASSES + 1), b.errors
    assert set(b.metrics) == END_TO_END - {"setup_s", "peak_rss_mb"}
    if trace:
        assert b.layers["queries.build_py4j_calls"] > 0
        assert b.layers["shuffle.write_bytes"] > 0
        assert b.layers["python.worker_cpu_s"] == 0


def test_dedup_check_fails_an_empty_or_short_result(spark, tmp_path):
    import workloads

    b = _bench(spark, tmp_path, "dedup_growth", False)
    data_dir, check = workloads.dedup_inputs(b, 600)
    df = spark.createDataFrame([], "id_a long, id_b long, hamming long")
    check("q_d4_simhash", (df, []))
    ids, texts = gen.dedup_documents(b.seed, 600)
    full = sorted((a, c, h) for (a, c), h in gen.simhash_pairs(ids, texts).items())
    check("q_d4_simhash", (df, full[1:]))
    check("q_d4_simhash", (df, full))
    assert (b.attempted, b.failed) == (3, 2)


def test_stream_resequence_smoke(spark, tmp_path, monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "STREAM_BURST_FILES", 2 * workloads.STREAM_MAX_FILES)
    b = _bench(spark, tmp_path, "stream_resequence", True)
    b.seconds = 2.0
    workloads.stream_resequence(b)
    assert b.failed == 0 and b.attempted > 0, b.errors
    assert b.metrics["latency_p50_s"] > 0 and b.metrics["ops_per_s"] > 0
    assert b.layers["loadgen.events"] == b.attempted
    # every per-layer metric comes from one workload or the other
    dedup = _bench(spark, tmp_path, "dedup_growth", True)
    workloads.batch_workload(dedup, workloads.dedup_inputs(dedup, 200), workloads.dedup_inputs(dedup, 200))
    assert set(spec.MOVES) - {"session.start_s"} <= set(b.layers) | set(dedup.layers)
