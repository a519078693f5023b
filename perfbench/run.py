"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dedup_growth --seed 1 --seconds 10 --trace 0

Run it from the repository root. With ``--trace 0`` the last line of
stdout holds every end-to-end metric ``BENCHMARK.json`` names; with
``--trace 1`` it holds every per-layer metric and the spans are written to
``.perfbench/spans-<workload>.json``. The line before it records the
core count and the Spark configuration the run used. Everything the
run writes stays under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "3g"


def _isolate() -> None:
    """Keep every file the run (and the JVM, and Python workers) writes
    inside WORK, pin the clock zone, and make the engine importable by
    the workers Spark forks."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def _spark_conf() -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # A fixed-size heap: heap growth decisions otherwise vary run to
        # run and move both GC time and resident memory with them. No
        # perf-data file, which the JVM would write under /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has ended."""
    import measure

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        stats = measure._proc_stats()
        left = [p for p in measure._tree(stats, me) if p != me]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate()
    import measure
    import spec
    import workloads

    doc = spec.load(ROOT)
    if args.workload not in workloads.RUNNERS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.RUNNERS)}", file=sys.stderr)
        return 2
    try:
        from electrician_spark.session import get_session
    except ImportError as ex:
        print(f"the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    conf = _spark_conf()
    with measure.RssSampler() as rss:
        t_start = time.perf_counter()
        spark = get_session("perfbench", cpus=cores, extra_conf=conf)
        session_s = time.perf_counter() - t_start
        b = workloads.Bench(
            spark=spark,
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            cores=cores,
            work_dir=WORK,
            t_start=t_start,
            tracer=measure.Tracer(bool(args.trace)),
            jvm_pid=spark.sparkContext._gateway.proc.pid,
        )
        try:
            workloads.RUNNERS[args.workload](b)
            spark_conf = dict(spark.sparkContext.getConf().getAll())
        finally:
            _stop(spark)
    b.metrics["setup_s"] = b.setup_s
    b.metrics["peak_rss_mb"] = rss.peak_mb
    b.layers["session.start_s"] = session_s

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "spark_conf": {k: v for k, v in sorted(spark_conf.items()) if not k.startswith("spark.app.")},
        "errors": b.errors,
    }
    if args.trace:
        b.tracer.write(os.path.join(WORK, f"spans-{args.workload}.json"), context)
    values = b.layers if args.trace else b.metrics
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in doc["per_layer" if args.trace else "end_to_end"]
    }
    print(json.dumps(context))
    print(
        json.dumps(
            {
                "correct": b.failed == 0 and b.attempted > 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
