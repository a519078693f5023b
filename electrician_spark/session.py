"""SparkSession factory.

Deterministic, scale-aware defaults:

- Arrow on (vectorized pandas-UDF path; reference parity: allocation-free
  hot path, /root/reference/pkg/internal/wire/options.go:134).
- AQE on with coalescing + skew-join handling: at 100 TB the static
  shuffle-partition count is always wrong somewhere; AQE re-plans from
  runtime statistics.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- ``spark.sql.shuffle.partitions`` sized from the core budget, not the
  200 default (local runs) — on a real cluster this is overridden by AQE
  anyway because ``adaptive.coalescePartitions`` computes the right number
  from shuffle bytes.
- Python workers start from :mod:`electrician_spark.pyworker`, a daemon
  that stops every task from re-reading ``pyspark.zip``'s directory (most
  of the fixed per-task cost of a pandas, Arrow or stateful stage). The
  package's parent directory goes on the workers' ``PYTHONPATH`` so the
  daemon imports whatever the driver's working directory is. Sessions the
  caller built keep the stock daemon.
- Streaming checkpoints go through Hadoop's ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``) instead of Spark's default
  ``FileContext`` manager. The default resolves symlinks on every rename,
  and without native libhadoop each lookup forks a ``readlink`` process:
  about 90 per micro-batch for a 4-partition stateful query (8 per
  state-store delta file, plus the offset, commit and source logs). The
  ``FileSystem`` manager renames with one ``rename(2)``. Spark reads the
  class from the Hadoop conf whenever a stream starts, so this one setting
  covers every query's logs, state stores and file-sink metadata. The
  trade-off: the manager checks that the target does not exist before it
  renames, which is best-effort only against a *concurrent* second driver
  on the same checkpoint (a setup Spark does not support anyway); on the
  local file system ``rename(2)`` itself is atomic. A cluster session on
  HDFS or S3 is built by the caller, so it keeps Spark's default, as does
  any other supplied session.
- The driver heap (local mode: the whole engine) defaults to half the
  host's physical memory, at most 16g, so GC feels pressure before the
  host does; ``SPARK_GRAFT_DRIVER_MEM`` overrides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def cpu_budget() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the physical memory, at most 16g."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(half_mb, 16 * 1024)}m"


def get_session(
    app_name: str = "electrician-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    If a session is already active (e.g. the driver passed one in), it
    is returned untouched: its config wins, and neither the conf below
    nor the log level is applied to it (``getOrCreate`` alone would
    write every builder option into the live session's SQL conf).
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    n = cpus or cpu_budget()
    conf = dict(extra_conf or {})
    path_key = "spark.executorEnv.PYTHONPATH"
    conf[path_key] = os.pathsep.join(filter(None, (_PACKAGE_PARENT, conf.get(path_key))))
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "electrician_spark.pyworker")
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

