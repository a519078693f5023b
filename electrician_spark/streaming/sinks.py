"""Streaming sinks — the foreachBatch router.

Re-expresses the reference's sink-side control plane (SURVEY §2.7,
§2.11) at micro-batch granularity:

- fan-out (C4): one micro-batch, many writers — persist once, write N
  times (kafkaclient adapters attaching to multiple wires).
- blackout window (W5, surgeprotector/config.go:18-54): batches
  arriving inside [start,end) are stashed or dropped, not written.
- backup reroute (W6, surgeprotector/submit.go:17-32): while a breaker
  is open, batches go to backup sinks instead of primary.
- DLQ (C6): the error split writes to a dead-letter path.
- threshold abort (A4, meter/monitor.go:37-52): stop the query when the
  error ratio crosses a threshold.

Everything here is driver-side orchestration over declarative writes —
the per-batch work itself stays in the JVM.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from electrician_spark.reliability import CircuitBreaker, CircuitOpenError

Sink = Callable[[DataFrame, int], None]


def await_stream(
    query, timeout_sec: float = 300, done: Callable[[], bool] | None = None
) -> None:
    """Block until a bounded stream is complete; raise instead of
    returning with a partial sink. ``awaitTermination`` returns False on
    timeout with the query STILL RUNNING and ``exception()`` None — a
    caller that ignores the return value then reads a partially-filled
    sink as if it were complete, with no error anywhere.

    With ``done=None`` the stream is complete when it terminates (an
    availableNow trigger). A stream that never terminates by itself (a
    processing-time trigger keeps polling) passes ``done``, a sink-side
    predicate such as "the sink holds every row the source was given"
    (electrician's processed == total rule, A5): it is polled every
    quarter second, and once it holds the query is stopped.

    Either way a query failure re-raises, and a stream not complete
    after ``timeout_sec`` is stopped and raises TimeoutError."""
    if done is None:
        finished = query.awaitTermination(timeout_sec)
    else:
        deadline = time.monotonic() + timeout_sec
        while not (finished := done()) and time.monotonic() < deadline:
            if query.awaitTermination(0.25):
                finished = done()
                break
        if finished:
            query.stop()
    if query.exception() is not None:
        raise query.exception()
    if not finished:
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not complete within "
            f"{timeout_sec}s — sink contents would be partial"
        )


def parquet_sink(path: str) -> Sink:
    def write(df: DataFrame, _epoch: int) -> None:
        df.write.mode("append").parquet(path)

    return write


def ndjson_sink(path: str) -> Sink:
    def write(df: DataFrame, _epoch: int) -> None:
        df.write.mode("append").json(path)

    return write


def memory_sink(buffer: list) -> Sink:
    """Test sink: drain to a driver-side list (reference Load()).

    DRIVER-BOUNDED BY DESIGN: every micro-batch is collect()ed into
    driver memory, so this is for test assertions and interactive
    result capture over streams expected to stay in the low thousands
    of rows total. Never route a production stream here — use
    parquet_sink/ndjson_sink (distributed appends) for anything whose
    row count you can't bound up front."""

    def write(df: DataFrame, _epoch: int) -> None:
        buffer.extend(df.collect())

    return write


@dataclass
class Blackout:
    """Trip between start/end (reference blackout window)."""

    start: dt.time
    end: dt.time
    clock: Callable[[], dt.datetime] = dt.datetime.utcnow

    def active(self) -> bool:
        now = self.clock().time()
        if self.start <= self.end:
            return self.start <= now < self.end
        return now >= self.start or now < self.end  # crosses midnight


def outside_blackout(ts, start: dt.time, end: dt.time):
    """Event-time form of the blackout window: a Column predicate that
    is True for rows whose time-of-day falls OUTSIDE [start, end) —
    same half-open / midnight-crossing semantics as
    :meth:`Blackout.active`, but applied to a timestamp column so
    batch replays and backfills honor the window row-by-row instead of
    by wall clock. Whole-second resolution (sub-second timestamps
    truncate toward the earlier second, matching ``date_part`` in ANSI
    engines)."""
    from pyspark.sql import functions as F

    sod = F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    s = start.hour * 3600 + start.minute * 60 + start.second
    e = end.hour * 3600 + end.minute * 60 + end.second
    if s <= e:
        inside = (sod >= F.lit(s)) & (sod < F.lit(e))
    else:  # crosses midnight
        inside = (sod >= F.lit(s)) | (sod < F.lit(e))
    return ~inside


@dataclass
class ForEachBatchRouter:
    """The foreachBatch body: fan-out + blackout + breaker/backup + DLQ.

    Use: ``query = df.writeStream.foreachBatch(router).start()`` or call
    directly per-batch in tests. Semantics per batch:

    1. blackout active → send to ``stash`` (or drop if none)
    2. breaker open → send to ``backups`` (reference: tripped surge
       protector submits to backup submitters)
    3. else → every primary sink gets the batch; DLQ split applied
       first when an ``error_condition`` is configured
    """

    sinks: list[Sink] = field(default_factory=list)
    backups: list[Sink] = field(default_factory=list)
    dlq_sink: Sink | None = None
    error_condition: object | None = None  # pyspark Column
    breaker: CircuitBreaker | None = None
    blackout: Blackout | None = None
    stash: Sink | None = None
    error_ratio_abort: float | None = None
    on_abort: Callable[[], None] | None = None

    def __post_init__(self) -> None:
        if self.error_ratio_abort is not None and self.error_condition is None:
            # the abort check lives on the error path — without a
            # condition it would never evaluate and the stream would
            # keep writing bad batches with no signal
            raise ValueError(
                "error_ratio_abort requires error_condition (the ratio "
                "is computed from the DLQ split)"
            )

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        if self.blackout is not None and self.blackout.active():
            if self.stash is not None:
                self.stash(batch, epoch_id)
            return

        if self.breaker is not None and self.breaker.is_open():
            for b in self.backups:
                b(batch, epoch_id)
            return

        # the error path consumes the batch up to 4× (two counts, DLQ
        # write, primary sinks) — persist the SOURCE batch so a Kafka/
        # file micro-batch is fetched once, not per consumer
        persisted = self.error_condition is not None or len(self.sinks) > 1
        if persisted:
            batch = batch.persist()
        try:
            main = batch
            if self.error_condition is not None:
                from electrician_spark.reliability import with_dlq_split

                main, bad = with_dlq_split(batch, self.error_condition)
                if self.dlq_sink is not None:
                    self.dlq_sink(bad, epoch_id)
                if self.error_ratio_abort is not None:
                    total = batch.count()
                    n_bad = bad.count()
                    if total and n_bad / total >= self.error_ratio_abort:
                        if self.on_abort is not None:
                            self.on_abort()
                        raise RuntimeError(
                            f"error ratio {n_bad}/{total} >= {self.error_ratio_abort} — aborting"
                        )

            run = lambda: [s(main, epoch_id) for s in self.sinks]  # noqa: E731
            if self.breaker is not None:
                try:
                    self.breaker.call(run)
                except CircuitOpenError:
                    for b in self.backups:
                        b(main, epoch_id)
            else:
                run()
        finally:
            if persisted:
                batch.unpersist()


# -- Kafka producer frame (K3, types/kafka_adapter.go:48-81) -----------------


def kafka_frame(
    df: DataFrame,
    value_cols: list[str] | None = None,
    *,
    key_template: str | None = None,
    header_templates: dict[str, str] | None = None,
    topic: str | None = None,
    partition_col: str | None = None,
) -> DataFrame:
    """Shape a DataFrame into the columns Spark's Kafka sink consumes:
    ``key``, ``value``, optional ``headers``/``topic``/``partition``.

    The reference's per-record ``{field}`` key and header templates
    (adapter/kafkaclient/templates.go:9-60, writer.go:16-58) compile to
    concat expressions — codegen'd, no UDF. Partition strategies map as:
    hash → Kafka's default key-hash partitioner (just set the key),
    manual → an explicit ``partition`` column, round-robin → null key.
    """
    from pyspark.sql import functions as F

    from electrician_spark.functions.scalar import expand_template

    cols = [
        F.to_json(F.struct(*(value_cols or df.columns))).alias("value"),
    ]
    if key_template is not None:
        cols.insert(0, expand_template(key_template).alias("key"))
    else:
        cols.insert(0, F.lit(None).cast("string").alias("key"))
    if header_templates:
        cols.append(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key"),
                        F.encode(expand_template(v), "utf-8").cast("binary").alias("value"),
                    )
                    for k, v in sorted(header_templates.items())
                ]
            ).alias("headers")
        )
    if topic is not None:
        cols.append(F.lit(topic).alias("topic"))
    if partition_col is not None:
        cols.append(F.col(partition_col).cast("int").alias("partition"))
    return df.select(*cols)


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str | None = None,
    acks: str = "all",
    compression: str | None = None,
    batch_size: int | None = None,
    linger_ms: int | None = None,
    dlq_topic: str | None = None,
) -> dict[str, str]:
    """Producer option map from the reference's writer config
    (types/kafka_adapter.go:48-81): acks 0/1/all, batch sizing, codec.
    ``dlq_topic`` is consumed by ForEachBatchRouter's dlq_sink, not the
    Kafka client. ``includeHeaders`` is set so the headers column ships."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "kafka.acks": acks,
        "includeHeaders": "true",
    }
    if topic is not None:
        opts["topic"] = topic
    if compression is not None:
        opts["kafka.compression.type"] = compression
    if batch_size is not None:
        opts["kafka.batch.size"] = str(batch_size)
    if linger_ms is not None:
        opts["kafka.linger.ms"] = str(linger_ms)
    if dlq_topic is not None:
        opts["electrician.dlq.topic"] = dlq_topic
    return opts
