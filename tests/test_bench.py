"""bench.py's output contract, its atomic detail file, and the tools
scripts' imports."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "extras_total_sec",
    "sha256_pipeline_items_per_sec",
    "sf",
    "cpus",
    "runs",
}


def test_bench_prints_detail_then_headline_last(spark, tmp_path, monkeypatch, capsys):
    detail_path = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    monkeypatch.setattr(bench, "RUNS", 1)
    monkeypatch.setattr(bench, "SHA_ITEMS", 1000)
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail_path))
    monkeypatch.setattr(bench, "HEADLINE", ["q_a1_pricing_summary"])
    monkeypatch.setattr(bench, "EXTRA_QUERIES", ["q_wp1_wordpiece_encode"])
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    head = json.loads(lines[-1])
    assert set(head) == HEADLINE_KEYS
    assert head["metric"] == "headline_queries_total_sec"
    assert list(head["queries"]) == ["q_a1_pricing_summary"]
    assert head["value"] == head["queries"]["q_a1_pricing_summary"]
    assert head["runs"] == 1 and head["sf"] == 0.001
    assert head["sha256_pipeline_items_per_sec"] > 0
    assert lines[-2] == detail_path.read_text().rstrip("\n")
    detail = json.loads(lines[-2])
    assert list(detail["extra_queries"]) == ["q_wp1_wordpiece_encode"]
    assert head["extras_total_sec"] == detail["extra_queries"]["q_wp1_wordpiece_encode"]
    # the wordpiece artifact is SF-independent, so the frozen variant ran
    assert detail["bench_variants"] == ["q_wp1_wordpiece_encode"]


def test_write_detail_keeps_previous_file_when_replace_fails(tmp_path, monkeypatch):
    path = tmp_path / "BENCH_DETAIL.json"
    bench.write_detail(str(path), '{"run": 1}')
    assert path.read_text() == '{"run": 1}\n'

    def fail(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="disk full"):
        bench.write_detail(str(path), '{"run": 2}')
    assert path.read_text() == '{"run": 1}\n'
    assert os.listdir(tmp_path) == ["BENCH_DETAIL.json"]  # no temp file left


def test_tools_import_without_starting_spark():
    # A fresh interpreter loads every tools script as a module (its
    # main() does not run): a dangling import fails here, and no import
    # may start a JVM.
    code = (
        "import glob, importlib.util, os\n"
        "from pyspark import SparkContext\n"
        "paths = sorted(glob.glob('tools/*.py'))\n"
        "assert paths\n"
        "for path in paths:\n"
        "    name = os.path.basename(path)[:-3]\n"
        "    spec = importlib.util.spec_from_file_location(name, path)\n"
        "    spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "assert SparkContext._gateway is None, 'an import started Spark'\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
