"""The workloads. Each drives the engine only through its public entry
points (``queries.REGISTRY`` and ``streaming.*``), checks every output
outside the timed region, and fills ``Bench.metrics`` (end to end) and,
when traced, ``Bench.layers``."""

from __future__ import annotations

import gc
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import gen
import measure
from spec import ROWS, row_metric

# dedup_growth corpus size: the sf0.1 document count, the largest whose
# warm-up plus one measured pass fits the run budget on 4 cores.
DEDUP_DOCS = 5_000
# Warm-up inputs: small enough that a warm-up pass costs little more
# than the per-job floor. The JVM is still compiling hot code during the
# first passes, so set-up runs two before the measured ones.
DEDUP_WARM_DOCS = 500
WARM_PASSES = 2


@dataclass
class Bench:
    """One run: the session, the options, and what the run measured."""

    spark: object
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    work_dir: str
    t_start: float
    tracer: measure.Tracer
    jvm_pid: int
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


# --- batch workloads -------------------------------------------------------------


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    row_wall: dict[str, float]
    layers: dict[str, float]


class PassTracer:
    """What a traced pass adds around each row: a job group, a py4j call
    count around the build, and a harvest of Spark's status stores after
    the action."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.reader = measure.SparkReader(spark)
        self.counter = measure.Py4jCounter(spark)
        self.store = self.sc._jsc.sc().statusStore()

    def harvest(self, group: str, df, action_epoch_ms: int, py4j_calls: int) -> dict[str, float]:
        jobs = self.reader.job_ids(group)
        build_jobs = [
            j for j in jobs if self.store.job(j).submissionTime().get().getTime() < action_epoch_ms
        ]
        out = {
            "queries.build_py4j_calls": py4j_calls,
            "queries.build_jobs": len(build_jobs),
            "queries.build_job_s": self.reader.jobs_wall_s(build_jobs),
            "execute.jobs": len(jobs) - len(build_jobs),
        }
        out.update(self.reader.stage_metrics(jobs))
        if df is not None:
            out.update(measure.catalyst_phases(df))
        return out


def _row_fns(names: list[str]):
    from electrician_spark.queries import REGISTRY

    return [(n, REGISTRY[n].spark) for n in names]


def run_pass(b: Bench, rows, data_dir: str, pt: PassTracer | None) -> tuple[PassResult, dict]:
    """One pass over ``rows``: build, then collect, each row in turn.
    Returns timings and the collected results, which the caller checks
    outside the timed region."""
    tr = b.tracer if pt is not None else measure.Tracer(False)
    results: dict[str, object] = {}
    row_wall: dict[str, float] = {}
    layers: dict[str, float] = {}
    c0 = measure.tree_cpu_s()
    py0 = measure.descendants_cpu_s(b.jvm_pid)
    with tr.span("pass") as ps:
        for name, fn in rows:
            group = f"{name}#{len(tr.spans)}"
            if pt is not None:
                pt.sc.setJobGroup(group, name, False)
            df, epoch_ms, calls = None, 0, 0
            with tr.span("row", row=name) as rs:
                try:
                    with tr.span("build"):
                        if pt is not None:
                            with pt.counter.counting() as count:
                                df = fn(b.spark, data_dir)
                            calls = count()
                        else:
                            df = fn(b.spark, data_dir)
                    epoch_ms = int(time.time() * 1000)
                    with tr.span("action"):
                        results[name] = (df, df.collect())
                except Exception as ex:  # noqa: BLE001 — a failed row is counted, not fatal
                    results[name] = ex
            row_wall[name] = rs.duration
            if pt is not None:
                with tr.span("trace.harvest"):
                    for k, v in pt.harvest(group, df, epoch_ms, calls).items():
                        layers[k] = layers.get(k, 0.0) + v
        if pt is not None:
            pt.sc.setLocalProperty("spark.jobGroup.id", None)
    cpu = measure.tree_cpu_s() - c0
    layers["python.worker_cpu_s"] = measure.descendants_cpu_s(b.jvm_pid) - py0
    return PassResult(ps.duration, cpu, row_wall, layers), results


def columns_rows(result) -> tuple[list[str], list[tuple]]:
    df, rows = result
    return list(df.columns), [tuple(r) for r in rows]


def batch_workload(b: Bench, warm_inputs, inputs) -> None:
    """Set-up ends with ``WARM_PASSES`` passes over small inputs, which
    compile every row's plans and warm the JVM; measured passes over
    the full inputs follow for ``b.seconds`` (at least one). Each of
    ``warm_inputs`` and ``inputs`` is a (data_dir, check) pair, and
    ``check(name, result)`` records one operation per row per pass."""
    names = ROWS[b.workload]
    warm_dir, warm_check = warm_inputs
    for _ in range(WARM_PASSES):
        _, results = run_pass(b, _row_fns(names), warm_dir, None)
        for name in names:
            warm_check(name, results[name])
        del results
        gc.collect()
    data_dir, check = inputs
    rows = _row_fns(names)
    b.end_setup()

    pt = PassTracer(b.spark) if b.trace else None
    passes: list[PassResult] = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < b.seconds:
        p, results = run_pass(b, rows, data_dir, pt)
        passes.append(p)
        for name, _ in rows:
            check(name, results[name])
        del results
        gc.collect()

    walls = [p.wall_s for p in passes]
    b.metrics.update(
        batch_wall_s=measure.median(walls),
        batch_cpu_s=measure.median([p.cpu_s for p in passes]),
        latency_p50_s=measure.median([w for p in passes for w in p.row_wall.values()]),
        ops_per_s=len(rows) * len(passes) / sum(walls),
    )
    if pt is not None:
        b.layers.update(_batch_layers(b, passes))


def _batch_layers(b: Bench, passes: list[PassResult]) -> dict[str, float]:
    """Per-layer figures per pass (median over the traced passes), with
    the span bookkeeping: build and action totals, the tracing overhead
    (harvest time between rows, which an untraced pass does not spend)
    and the part of the rows' wall that no build or action span covers."""
    spans = b.tracer.spans
    kids: dict[int, list[measure.Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    per_pass = []
    pass_ids = [i for i, s in enumerate(spans) if s.name == "pass"]
    for p, pid in zip(passes, pass_ids):
        d = dict(p.layers)
        build = action = covered = harvest = 0.0
        for s in kids.get(pid, []):
            if s.name == "trace.harvest":
                harvest += s.duration
        for rid in (i for i, s in enumerate(spans) if s.parent == pid and s.name == "row"):
            bsum = sum(s.duration for s in kids.get(rid, []) if s.name == "build")
            asum = sum(s.duration for s in kids.get(rid, []) if s.name == "action")
            build, action, covered = build + bsum, action + asum, covered + spans[rid].duration - bsum - asum
            d[row_metric(spans[rid].attrs["row"])] = spans[rid].duration
        d["queries.build_s"] = build
        d["execute.action_s"] = action
        d["trace.overhead_s"] = harvest
        d["trace.unattributed_s"] = covered
        d["execute.core_busy_ratio"] = d.get("execute.task_run_s", 0.0) / (p.wall_s * b.cores)
        per_pass.append(d)
    keys = sorted({k for d in per_pass for k in d})
    return {k: measure.median([d.get(k, 0.0) for d in per_pass]) for k in keys}


# --- dedup_growth ------------------------------------------------------------------


def dedup_inputs(b: Bench, n_docs: int):
    """(data_dir, check) for a seeded corpus of ``n_docs`` documents."""
    ids, texts = gen.dedup_documents(b.seed, n_docs)
    data_dir = gen.dedup_corpus(os.path.join(b.work_dir, "cache"), b.seed, n_docs)
    ref = gen.planted_pairs(ids, texts)
    ref_cc = gen.components(ref)
    ref_simhash = gen.simhash_pairs(ids, texts)

    def check(name: str, result) -> None:
        if isinstance(result, Exception):
            b.outcome(False, f"{name}: {type(result).__name__}: {str(result)[:200]}")
            return
        cols, rows = columns_rows(result)
        recs = [dict(zip(cols, r)) for r in rows]
        if name == "q_d2_ngram_jaccard":
            ok = {(r["id_a"], r["id_b"]): r["jaccard"] for r in recs} == ref
        elif name == "q_d6_dup_clusters":
            ok = {r["node"]: r["rep"] for r in recs} == ref_cc
        elif name == "q_d3_minhash_lsh":  # LSH finds a subset of the exact answer
            got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in recs}
            ok = len(got) >= len(ref) // 2 and all(ref.get(k) == v for k, v in got.items())
        else:  # q_d4_simhash
            ok = {(r["id_a"], r["id_b"]): r["hamming"] for r in recs} == ref_simhash
        b.outcome(ok, f"{name}: output differs from the reference")

    return data_dir, check


def dedup_growth(b: Bench) -> None:
    batch_workload(b, dedup_inputs(b, DEDUP_WARM_DOCS), dedup_inputs(b, DEDUP_DOCS))


# --- stream_resequence -----------------------------------------------------------------

STREAM_FILE_S = 0.25  # one input file per quarter second
STREAM_REF_EPS = 600  # reference rate, well below saturation on 4 cores under other load
# A fixed trigger: an event waits for the next trigger, then for its
# micro-batch, so its latency no longer depends on where a back-to-back
# micro-batch happens to start. It is well above a micro-batch's wall
# at the reference rate.
STREAM_TRIGGER_S = 2
STREAM_MAX_FILES = 16  # maxFilesPerTrigger: twice a trigger interval's files
# The fixed burst drained to measure the sustained rate; with the file
# of held-back events written after it, it fills four micro-batches.
STREAM_BURST_FILES = 4 * STREAM_MAX_FILES - 1
STREAM_BURST_FILE_EVENTS = 1_500
STREAM_WARM_BATCHES = 6  # at the reference rate before the window: the JIT settles
STREAM_LATE_LIMIT_S = 1.0  # a generator later than this invalidates the run


class Generator(threading.Thread):
    """Open-loop load: once started at ``t0``, writes the ``k``-th file at
    ``t0 + (k + 1) * STREAM_FILE_S`` holding the events due during its
    interval, whatever the pipeline is doing. ``prime()`` writes one file
    before that; ``burst()`` stops the schedule and writes a fixed
    backlog at once; ``finish()`` then writes every event still held
    back."""

    def __init__(self, in_dir: str, seed: int) -> None:
        super().__init__(name="loadgen", daemon=True)
        self.in_dir = in_dir
        self.schedule = gen.EventSchedule(seed)
        self.stop_event = threading.Event()
        self.t0 = 0.0
        self.f0 = 0  # the first scheduled file
        self.next_file = 0
        self.rows_written: list[int] = []  # cumulative rows after each file
        self.due: dict[tuple[str, int], float] = {}
        self.late_s_max = 0.0
        self.error: BaseException | None = None

    def _write(self, events, written_at: float) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = self.next_file
        self.next_file += 1
        table = pa.table(
            {
                "key": [e[0] for e in events],
                "seq": pa.array([e[1] for e in events], pa.int64()),
                "payload": [gen.payload(e[2]) for e in events],
            }
        )
        tmp = os.path.join(self.in_dir, f".part-{f:06d}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.in_dir, f"part-{f:06d}.parquet"))
        for e in events:
            self.due.setdefault((e[0], e[1]), e[2])
        self.rows_written.append((self.rows_written[-1] if self.rows_written else 0) + len(events))
        self.late_s_max = max(self.late_s_max, time.perf_counter() - written_at)

    def run(self) -> None:
        n = int(STREAM_REF_EPS * STREAM_FILE_S)
        try:
            while True:
                f = self.next_file
                start = self.t0 + (f - self.f0) * STREAM_FILE_S
                written_at = start + STREAM_FILE_S
                if self.stop_event.wait(max(0.0, written_at - time.perf_counter())):
                    return
                self._write(self.schedule.file_events(f, start, n, STREAM_FILE_S), written_at)
        except Exception as ex:  # noqa: BLE001 — raised by the workload once the run ends
            self.error = ex

    def prime(self) -> None:
        """Write one reference-rate file at once, for the cold first
        micro-batch (Python workers, code generation) to run on before
        the schedule starts, so no backlog builds up behind it."""
        t = time.perf_counter()
        self._write(self.schedule.file_events(self.next_file, t, int(STREAM_REF_EPS * STREAM_FILE_S), 0.0), t)

    def start_at(self, t0: float) -> None:
        self.t0, self.f0 = t0, self.next_file
        self.start()

    def burst(self) -> float:
        """Stop the schedule, then write the fixed burst at once; returns
        when the burst was due."""
        self.stop_event.set()
        self.join(timeout=10)
        t = time.perf_counter()
        for _ in range(STREAM_BURST_FILES):
            self._write(self.schedule.file_events(self.next_file, t, STREAM_BURST_FILE_EVENTS, 0.0), t)
        return t

    def backlog_files(self, query) -> int:
        """Files written but not yet read by a finished micro-batch."""
        ingested = sum(p.numInputRows for p in query.recentProgress)
        return sum(1 for r in list(self.rows_written) if r > ingested)

    def finish(self) -> None:
        held = self.schedule.flush()
        if held:
            self._write(held, time.perf_counter())


def stream_resequence(b: Bench) -> None:
    from electrician_spark.streaming.sinks import ForEachBatchRouter
    from electrician_spark.streaming.sources import file_stream
    from electrician_spark.streaming.stateful import resequence

    root = os.path.join(b.work_dir, f"stream-{os.getpid()}")
    in_dir, ckpt = os.path.join(root, "in"), os.path.join(root, "checkpoint")
    os.makedirs(in_dir)
    spark = b.spark
    g = Generator(in_dir, b.seed)

    emitted: list[tuple[str, int, float]] = []  # (key, seq, emission time) in sink order
    # (epoch, start, end, rows, CPU of the process tree at the end)
    sink_calls: list[tuple[int, float, float, int, float]] = []

    def sink(batch, epoch_id: int) -> None:
        t0 = time.perf_counter()
        tbl = batch.select("key", "seq").toArrow()
        t1 = time.perf_counter()
        keys, seqs = tbl.column("key").to_pylist(), tbl.column("seq").to_pylist()
        emitted.extend(zip(keys, seqs, [t1] * len(keys)))
        sink_calls.append((epoch_id, t0, t1, len(keys), measure.tree_cpu_s()))

    g.prime()
    src = file_stream(
        spark, in_dir, "key string, seq long, payload string", max_files_per_trigger=STREAM_MAX_FILES
    )
    query = (
        resequence(src)
        .writeStream.foreachBatch(ForEachBatchRouter(sinks=[sink]))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{STREAM_TRIGGER_S} seconds")
        .outputMode("append")
        .queryName("perfbench_resequence")
        .start()
    )
    try:
        _drive_stream(b, g, query, emitted, sink_calls)
    finally:
        g.stop_event.set()
        if g.is_alive():
            g.join(timeout=10)
        if query.isActive:
            query.stop()
        shutil.rmtree(root, ignore_errors=True)


def _wait(cond, timeout_s: float, query) -> bool:
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        if cond():
            return True
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.02)
    return cond()


def _drive_stream(b: Bench, g: Generator, query, emitted, sink_calls) -> None:
    # the cold first micro-batch, on the primed file
    _wait(lambda: len(sink_calls) >= 1, 120, query)
    # then warm micro-batches at the reference rate
    g.start_at(time.perf_counter())
    _wait(lambda: len(sink_calls) >= 1 + STREAM_WARM_BATCHES, 60, query)
    b.end_setup()

    # the measured window at the reference rate
    w0, e0 = time.perf_counter(), time.time()
    py0 = measure.descendants_cpu_s(b.jvm_pid)
    calls0 = len(sink_calls)
    time.sleep(b.seconds)
    w1, e1 = time.perf_counter(), time.time()
    py_cpu = measure.descendants_cpu_s(b.jvm_pid) - py0
    calls1 = len(sink_calls)
    window_calls = sink_calls[calls0:calls1]
    # CPU from one micro-batch's emission to the next's, in the window
    cycle_cpu = [sink_calls[i][4] - sink_calls[i - 1][4] for i in range(calls0, calls1)]
    backlog = g.backlog_files(query)

    # then a fixed burst and the held-back events, drained in batches of
    # at most STREAM_MAX_FILES files: the rate the pipeline sustains
    t_burst = g.burst()
    g.finish()
    total = len(g.due)
    _wait(lambda: len(emitted) >= total, 60, query)
    time.sleep(STREAM_TRIGGER_S)  # a stray duplicate would arrive with the next batch
    query.stop()
    if g.error is not None:
        raise RuntimeError(f"load generator failed: {g.error!r}")
    if g.late_s_max > STREAM_LATE_LIMIT_S:
        raise RuntimeError(f"load generator ran {g.late_s_max:.3f} s late: the run is invalid")

    # correctness: every generated (key, seq) exactly once, in seq order per key
    last: dict[str, int] = {}
    first_emit: dict[tuple[str, int], float] = {}
    in_order = repeats = 0
    for k, s, t in emitted:
        if (k, s) in first_emit:
            repeats += 1
            continue
        first_emit[(k, s)] = t
        if last.get(k, 0) + 1 == s:
            in_order += 1
        last[k] = s
    b.attempted += total
    bad = min(total, total - in_order + repeats)
    b.failed += bad
    if bad:
        b.errors.append(f"{bad} of {total} events not delivered exactly once in order")

    # latency of events due inside the window (less its last second, whose
    # held-back events are written after it), scheduled creation to emission
    lat = [first_emit[e] - d for e, d in g.due.items() if w0 <= d < w1 - 1.0 and e in first_emit]
    progress = {p.batchId: p for p in query.recentProgress}
    win_batches = [progress[c[0]] for c in window_calls if c[0] in progress]
    # events per second of micro-batch wall while the burst drains, over
    # the micro-batches that read a full STREAM_MAX_FILES of its files
    full = 0.9 * STREAM_MAX_FILES * STREAM_BURST_FILE_EVENTS
    drain_rates = [
        progress[c[0]].numInputRows / (progress[c[0]].durationMs["triggerExecution"] / 1e3)
        for c in sink_calls
        if c[2] > t_burst and c[0] in progress and progress[c[0]].numInputRows >= full
    ]
    b.metrics.update(
        batch_wall_s=measure.median([p.durationMs.get("triggerExecution", 0) / 1e3 for p in win_batches]),
        batch_cpu_s=measure.median(cycle_cpu),
        latency_p50_s=measure.median(lat),
        ops_per_s=measure.median(drain_rates),
    )
    if b.trace:
        reader = measure.SparkReader(b.spark)
        jobs = [
            j for j in reader.job_ids(str(query.runId))
            if e0 * 1000 <= reader.store.job(j).submissionTime().get().getTime() < e1 * 1000
        ]
        # Spark attributes no Python SQL metrics to foreachBatch
        # micro-batches; the workers' CPU stands for the Python layer
        b.layers.update(reader.stage_metrics(jobs))
        b.layers["execute.jobs"] = len(jobs)
        b.layers["python.worker_cpu_s"] = py_cpu
        b.layers["execute.core_busy_ratio"] = b.layers["execute.task_run_s"] / ((w1 - w0) * b.cores)
        b.layers.update(_stream_layers(g, win_batches, window_calls, lat, backlog))
        for epoch, t0, t1, rows, _ in sink_calls:
            b.tracer.add("sinks.write", t0, t1, epoch=epoch, rows=rows)


def _stream_layers(g, batches, calls, lat, backlog) -> dict[str, float]:
    def phase(name: str) -> float:
        return measure.median([p.durationMs.get(name, 0) / 1e3 for p in batches])

    state = [p.stateOperators[0] for p in batches if p.stateOperators]
    tail = measure.tail(lat)
    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(p.numInputRows for p in batches),
        "streaming.backlog_files_end": backlog,
        "streaming.latency_samples": len(lat),
        "streaming.latency_tail_s": tail[1] if tail else 0.0,
        "streaming.latest_offset_s": phase("latestOffset"),
        "streaming.get_batch_s": phase("getBatch"),
        "streaming.query_planning_s": phase("queryPlanning"),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.commit_offsets_s": phase("commitOffsets"),
        "state.rows_total": state[-1].numRowsTotal if state else 0,
        "state.memory_bytes": state[-1].memoryUsedBytes if state else 0,
        "state.commit_s": measure.median([s.commitTimeMs / 1e3 for s in state]),
        "sinks.write_s": measure.median([c[2] - c[1] for c in calls]),
        "sinks.batches": len(calls),
        "loadgen.events": len(g.due),
        "loadgen.late_s_max": g.late_s_max,
    }


RUNNERS = {
    "dedup_growth": dedup_growth,
    "stream_resequence": stream_resequence,
}
