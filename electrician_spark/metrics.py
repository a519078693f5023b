"""Observability — the meter re-expressed (SURVEY §2.4).

The reference's Meter keeps 113 atomic counters with derived rates,
percentages, and threshold alarms
(/root/reference/pkg/internal/types/meter.go:9-126,
meter/metrics.go:59-97, monitor.go:23-60). Spark-first mapping:

- counters/ratios ride the query itself via ``DataFrame.observe`` —
  metrics accumulate during execution, zero extra passes and zero
  shuffle, the closest analog to the meter's in-band counting.
- rates = counts over event-time buckets (declared query Q-A2).
- threshold alarm / early abort (A4): check the observation after the
  action (batch) or per-batch in foreachBatch (streaming) and raise.
- streaming progress (processed rows/sec) comes from
  ``StreamingQuery.lastProgress`` — Spark's own meter.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class MeterReading:
    processed: int
    errors: int
    error_pct: float

    def check(self, error_pct_threshold: float) -> None:
        """Reference monitor.go:37-52: abort when error% ≥ threshold."""
        if self.error_pct >= error_pct_threshold:
            raise RuntimeError(
                f"meter: error ratio {self.error_pct:.2f}% >= {error_pct_threshold}% — aborting"
            )


class Meter:
    """Attach in-band counters to a plan; read after an action runs.

    >>> meter = Meter(error_cond=F.col("status") == "error")
    >>> df = meter.attach(df)
    >>> df.write.parquet(...)            # any action
    >>> meter.reading().check(5.0)
    """

    def __init__(self, error_cond=None, name: str = "meter"):
        self._obs = Observation(name)
        self._error_cond = error_cond

    def attach(self, df: DataFrame) -> DataFrame:
        err = self._error_cond if self._error_cond is not None else F.lit(False)
        return df.observe(
            self._obs,
            F.count(F.lit(1)).alias("processed"),
            F.sum(F.when(err, 1).otherwise(0)).alias("errors"),
        )

    def reading(self) -> MeterReading:
        got = self._obs.get
        processed = got["processed"] or 0
        errors = got["errors"] or 0
        pct = (100.0 * errors / processed) if processed else 0.0
        return MeterReading(processed=processed, errors=errors, error_pct=pct)


# -- streaming meter (reference meter/display.go + monitor.go over time) ------

try:  # StreamingQueryListener requires a classic (non-connect) session
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover
    StreamingQueryListener = None  # type: ignore[assignment]


if StreamingQueryListener is not None:

    class MeterListener(StreamingQueryListener):
        """Accumulates per-query totals, rates, and peaks from progress
        events — the meter's processed/sec + peak tracking
        (types/meter.go:16-25) fed by Spark's own telemetry instead of
        hand-maintained atomics. Register with
        ``spark.streams.addListener(listener)``."""

        def __init__(self) -> None:
            self.readings: dict[str, dict] = {}

        def onQueryStarted(self, event) -> None:
            self.readings[str(event.id)] = {
                "name": event.name,
                "batches": 0,
                "total_rows": 0,
                "peak_rows_per_sec": 0.0,
                "terminated": False,
                "exception": None,
            }

        def onQueryProgress(self, event) -> None:
            p = event.progress
            r = self.readings.setdefault(str(p.id), {
                "name": p.name, "batches": 0, "total_rows": 0,
                "peak_rows_per_sec": 0.0, "terminated": False, "exception": None,
            })
            r["batches"] += 1
            r["total_rows"] += p.numInputRows or 0
            rate = p.processedRowsPerSecond or 0.0
            if rate > r["peak_rows_per_sec"]:
                r["peak_rows_per_sec"] = rate

        def onQueryIdle(self, event) -> None:  # pragma: no cover — timing
            pass

        def onQueryTerminated(self, event) -> None:
            r = self.readings.get(str(event.id))
            if r is not None:
                r["terminated"] = True
                r["exception"] = event.exception


# -- structured log records (pkg/logschema/logschema.go:4-25) -----------------

LOG_SCHEMA_ID = "electrician.log.v1"

LOG_RECORD_DDL = (
    "log_schema string, ts timestamp, level string, msg string, logger string, "
    "caller string, stack string, component string, event string, result string, "
    "error string, trace_id string, span_id string"
)


def log_record(
    level: str,
    msg: str,
    *,
    component: str | None = None,
    event: str | None = None,
    result: str | None = None,
    error: str | None = None,
    logger: str | None = None,
    trace_id: str | None = None,
    span_id: str | None = None,
    ts=None,
) -> dict:
    """One structured log entry in the reference's ``electrician.log.v1``
    shape (logs-as-data: write batches of these with ``spark.createDataFrame
    (records, LOG_RECORD_DDL)`` and query them like any table — the
    log-relay-sink capability K7)."""
    import datetime as _dt

    return {
        "log_schema": LOG_SCHEMA_ID,
        "ts": ts or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
        "level": level,
        "msg": msg,
        "logger": logger,
        "caller": None,
        "stack": None,
        "component": component,
        "event": event,
        "result": result,
        "error": error,
        "trace_id": trace_id,
        "span_id": span_id,
    }
