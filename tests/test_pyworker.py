"""What ``get_session`` installs on the sessions it builds: the Python
worker daemon, the streaming checkpoint manager and the driver heap.

The zip tests drive :func:`electrician_spark.pyworker.invalidate_caches`
directly (no Spark). The session test runs a fresh driver process whose
working directory does not contain the package and whose environment has
no ``PYTHONPATH``: the workers can import the daemon only through the
path ``get_session`` hands them."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from electrician_spark import pyworker, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)
    os.replace(tmp, path)  # a new file: new inode, as a redeployed pyFile


_PKG = {"pw_pkg/__init__.py": "", "pw_pkg/first.py": "VALUE = 1\n"}


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding package ``pw_pkg`` on sys.path, the daemon's
    invalidate_caches installed, and a counter of directory reads."""
    path = str(tmp_path / "deps.zip")
    _write_zip(path, _PKG)
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, reads
    for name in ("pw_pkg", "pw_pkg.first", "pw_pkg.second"):
        sys.modules.pop(name, None)
    for entry in [e for e in sys.path_importer_cache if e.startswith(path)]:
        del sys.path_importer_cache[entry]


def test_unchanged_zip_is_not_reread(zip_on_path):
    path, reads = zip_on_path
    assert importlib.import_module("pw_pkg.first").VALUE == 1
    importlib.invalidate_caches()  # the first call reads once, to learn the stamp
    seen = reads.count(path)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) == seen


def test_replaced_zip_is_reread(zip_on_path):
    """Two importers share the archive (its root and ``pw_pkg/``, as a
    worker holds one per imported subpackage of pyspark.zip): one read
    refreshes both."""
    path, reads = zip_on_path
    importlib.import_module("pw_pkg.first")
    importlib.invalidate_caches()
    seen = reads.count(path)
    _write_zip(path, {**_PKG, "pw_pkg/second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == seen + 1
    assert importlib.import_module("pw_pkg.second").VALUE == 2


_DRIVER = """
import json, os, sys, time
sys.path.insert(0, sys.argv[1])  # the driver finds the package; its workers are not told

import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from electrician_spark.session import get_session
from electrician_spark.streaming.sources import file_stream
from electrician_spark.streaming.stateful import resequence


def daemons(spark):
    def report(pdf):
        import sys
        return pd.DataFrame({"m": [sys.modules["__main__"].__spec__.name]})

    rows = spark.range(4).groupBy("id").applyInPandas(report, "m string").collect()
    return sorted({r.m for r in rows})


out = {}
supplied = (
    SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "America/New_York").getOrCreate()
)
keys = ["spark.sql.session.timeZone", "spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold"]
out["supplied_conf_before"] = [supplied.conf.get(k) for k in keys]
same = get_session(cpus=2)
out["supplied_conf_after"] = [supplied.conf.get(k) for k in keys]
out["supplied_is_kept"] = same is supplied
out["supplied_daemon_conf"] = same.sparkContext.getConf().get("spark.python.daemon.module")
out["supplied_daemons"] = daemons(same)
ckpt_key = "spark.sql.streaming.checkpointFileManagerClass"
out["supplied_checkpoint_manager"] = same.conf.get(ckpt_key, None)
same.stop()

spark = get_session(cpus=2, shuffle_partitions=2)
out["daemons"] = daemons(spark)
out["checkpoint_manager"] = spark.conf.get(ckpt_key, None)
out["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
sums = spark.range(6).withColumn("k", F.col("id") % 2).groupBy("k").applyInPandas(
    lambda pdf: pd.DataFrame({"k": [int(pdf.k.iloc[0])], "s": [int(pdf.id.sum())]}),
    "k long, s long",
)
out["pandas"] = sorted((r.k, r.s) for r in sums.collect())
doubled = spark.range(5).mapInArrow(
    lambda batches: (pa.RecordBatch.from_pydict({"id": pa.compute.multiply(b.column(0), 2)}) for b in batches),
    "id long",
)
out["arrow"] = sorted(r.id for r in doubled.collect())

src = os.path.join(os.getcwd(), "src")
os.makedirs(src)
batches = [
    [("a", 2, "a2"), ("b", 1, "b1")],
    [("a", 1, "a1"), ("b", 3, "b3")],
    [("a", 3, "a3"), ("b", 2, "b2")],
]
for i, batch in enumerate(batches):
    path = os.path.join(src, f"b{i}.json")
    with open(path, "w") as fh:
        fh.writelines(json.dumps(dict(key=k, seq=s, payload=p)) + "\\n" for k, s, p in batch)
    os.utime(path, (time.time() + i, time.time() + i))
schema = StructType(
    [StructField("key", StringType()), StructField("seq", LongType()), StructField("payload", StringType())]
)
stream = file_stream(spark, src, schema, max_files_per_trigger=1, fmt="json")
q = (
    resequence(stream).writeStream.format("memory").queryName("reseq").outputMode("append")
    .option("checkpointLocation", os.path.join(os.getcwd(), "ck"))
    .trigger(availableNow=True).start()
)
q.awaitTermination(300)
out["resequence"] = sorted((r.key, r.seq, r.payload) for r in spark.table("reseq").collect())
spark.stop()
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def driver_run(tmp_path_factory):
    """One fresh driver process, run from a directory that does not
    hold the package and with no PYTHONPATH."""
    cwd = tmp_path_factory.mktemp("foreign_cwd")
    script = cwd / "driver.py"
    script.write_text(_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), REPO], cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_get_session_runs_python_workers_from_any_cwd(driver_run):
    assert driver_run["daemons"] == ["electrician_spark.pyworker"]
    assert driver_run["checkpoint_manager"].endswith(".FileSystemBasedCheckpointFileManager")
    assert driver_run["driver_memory"] == "1g"  # SPARK_GRAFT_DRIVER_MEM wins
    assert driver_run["pandas"] == [[0, 6], [1, 9]]
    assert driver_run["arrow"] == [0, 2, 4, 6, 8]
    assert driver_run["resequence"] == [
        ["a", 1, "a1"], ["a", 2, "a2"], ["a", 3, "a3"],
        ["b", 1, "b1"], ["b", 2, "b2"], ["b", 3, "b3"],
    ]


def test_supplied_session_keeps_stock_daemon(driver_run):
    assert driver_run["supplied_is_kept"]
    assert driver_run["supplied_conf_before"][0] == "America/New_York"
    assert driver_run["supplied_conf_after"] == driver_run["supplied_conf_before"]
    assert driver_run["supplied_daemon_conf"] is None
    assert driver_run["supplied_daemons"] == ["pyspark.daemon"]
    assert driver_run["supplied_checkpoint_manager"] is None  # Spark's default


@pytest.mark.parametrize("phys_gib, expect", [(8, "4096m"), (15, "7680m"), (64, "16384m")])
def test_driver_memory_defaults_to_half_of_host_at_most_16g(monkeypatch, phys_gib, expect):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_memory() == expect
