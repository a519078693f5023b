"""Reliability layer — the reference's failure-handling components
re-scoped to Spark's execution model (SURVEY §2.12, §7.4.2).

Per-record semantics in the reference (insulator retries, circuit
breaker, surge protector) don't map 1:1 onto a distributed batch
engine; the honest Spark-first re-expression is:

- DLQ column pattern (C6): a transform marks failures in an ``_error``
  column; the plan splits into a good path and a DLQ path. Replaces the
  reference's errorChan + neutral-wire divert
  (/root/reference/pkg/internal/wire/error.go:5-48, submit.go:54-80).
- Retry (R2 insulator, wire/transform.go:9-77): per-record try-loop
  *inside* an Arrow batch UDF (cheap, no scheduling), plus batch-level
  re-run driven by the circuit breaker below.
- Circuit breaker (R1, circuitbreaker/state.go:11-108): driver-side
  guard used around ``foreachBatch`` bodies / batch jobs. Spark already
  retries tasks; the breaker adds the reference's error-budget
  semantics: open after N failures inside a rolling window, half-open
  after ``reset_timeout``.
- Token bucket (W3 surge protector rate limit,
  surgeprotector/rate_limit.go:49-76): driver-side pacing for pollers /
  foreachBatch sinks. In Spark sources, prefer declarative rate caps
  (maxOffsetsPerTrigger / maxFilesPerTrigger).
- Retry table (R4 resister): failed rows land in a priority table;
  a scheduled drain re-reads them ordered by
  operators.priority.effective_priority — aging comes out of the
  event-time column, no in-memory heap to lose.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# DLQ column pattern
# ---------------------------------------------------------------------------


def with_dlq_split(df: DataFrame, error_cond: Column) -> tuple[DataFrame, DataFrame]:
    """Split a plan into (good, dlq) on an error condition. Both sides
    share the parent plan; with whole-stage codegen the predicate is
    evaluated once per side off the same scan.

    A NULL ``error_cond`` routes to the DLQ: under SQL three-valued
    logic a bare filter(cond)/filter(~cond) pair silently drops
    NULL-condition rows from BOTH sides — the one failure mode a DLQ
    split must never have — and a condition that cannot be evaluated
    (NULL operand) marks exactly the kind of record the DLQ exists
    for."""
    marked = df.withColumn("_error", F.coalesce(error_cond, F.lit(True)))
    good = marked.filter(~F.col("_error")).drop("_error")
    bad = marked.filter(F.col("_error")).drop("_error")
    return good, bad


# ---------------------------------------------------------------------------
# Circuit breaker (driver-side)
# ---------------------------------------------------------------------------


class CircuitOpenError(RuntimeError):
    pass


@dataclass
class CircuitBreaker:
    """Error-budget breaker with rolling window + auto half-open.

    Reference semantics (circuitbreaker/state.go:11-108): open when
    ``threshold`` errors are recorded within ``window_sec``; while open,
    submits divert (here: raise/skip); after ``reset_timeout_sec`` the
    breaker half-opens and one trial is allowed through. ``debounce_sec``
    collapses error bursts the way the reference's debounce does.
    """

    threshold: int = 3
    window_sec: float = 60.0
    reset_timeout_sec: float = 30.0
    debounce_sec: float = 0.0
    clock: Callable[[], float] = time.monotonic
    _errors: list[float] = field(default_factory=list)
    _opened_at: float | None = None
    _last_error_at: float | None = None

    def record_error(self) -> None:
        now = self.clock()
        if self.is_half_open():
            # A failed half-open trial re-opens IMMEDIATELY (state.go
            # half-open semantics): neither the debounce nor the
            # rolling-window count applies to the trial — debouncing it
            # away, or letting old errors age out of the window, would
            # leave a permanently permissive breaker after the trial
            # failure the half-open state exists to test for.
            self._opened_at = now
            self._last_error_at = now
            self._errors = [now]
            return
        if self._last_error_at is not None and now - self._last_error_at < self.debounce_sec:
            return
        self._last_error_at = now
        self._errors = [t for t in self._errors if now - t <= self.window_sec]
        self._errors.append(now)
        if len(self._errors) >= self.threshold:
            self._opened_at = now

    def record_success(self) -> None:
        # A successful half-open trial closes the breaker.
        if self.is_half_open():
            self._opened_at = None
            self._errors.clear()

    def is_open(self) -> bool:
        if self._opened_at is None:
            return False
        return self.clock() - self._opened_at < self.reset_timeout_sec

    def is_half_open(self) -> bool:
        return self._opened_at is not None and not self.is_open()

    def call(self, fn: Callable[[], "object"]):
        """Run ``fn`` under the breaker — the foreachBatch wrapper."""
        if self.is_open():
            raise CircuitOpenError("circuit breaker open")
        try:
            out = fn()
        except Exception:
            self.record_error()
            raise
        self.record_success()
        return out


# ---------------------------------------------------------------------------
# Retry with backoff (batch-level insulator)
# ---------------------------------------------------------------------------


def retry_call(
    fn: Callable[[], "object"],
    max_retries: int = 3,
    interval_sec: float = 0.0,
    backoff: float = 2.0,
    breaker: CircuitBreaker | None = None,
    sleep: Callable[[float], None] = time.sleep,
):
    """Insulator semantics at batch granularity: up to ``max_retries``
    re-attempts with (exponential) interval; terminal failure records
    into the breaker (reference: final failure → CB.RecordError,
    wire/transform.go:60-77)."""
    attempt = 0
    delay = interval_sec
    while True:
        try:
            return fn()
        except Exception:
            attempt += 1
            if attempt > max_retries:
                if breaker is not None:
                    breaker.record_error()
                raise
            if delay:
                sleep(delay)
                delay *= backoff


# ---------------------------------------------------------------------------
# Token bucket (surge protector rate limit)
# ---------------------------------------------------------------------------


@dataclass
class TokenBucket:
    """capacity/refill_rate bucket (surgeprotector/rate_limit.go:49-76).
    Driver-side pacing only — per-record limiting does not exist in
    Spark's model (source-level rate options replace it)."""

    capacity: int
    refill_per_sec: float
    clock: Callable[[], float] = time.monotonic
    _tokens: float = field(default=-1.0)
    _last: float = field(default=-1.0)

    def try_take(self, n: int = 1) -> bool:
        now = self.clock()
        if self._tokens < 0:
            self._tokens, self._last = float(self.capacity), now
        self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.refill_per_sec)
        self._last = now
        if self._tokens >= n:
            self._tokens -= n
            return True
        return False


# ---------------------------------------------------------------------------
# Retry table (resister) — priority-aged requeue as a table
# ---------------------------------------------------------------------------


def to_retry_table(
    failed: DataFrame, priority_col: str = "priority", retry_col: str = "retry_count"
) -> DataFrame:
    """Failed rows → retry-table rows: bump retry_count, stamp queue
    entry time, and stamp ``priority_col`` = 0 when the input has no
    priority column (so drain never fails on an unstamped table).
    Priority is *recomputed at drain time* from entry time
    (operators.priority.effective_priority), which is the reference's
    aging tick (element.go:80-98) without mutable state."""
    cols = failed.columns
    out = failed.withColumn(
        retry_col,
        (F.col(retry_col) + 1) if retry_col in cols else F.lit(1),
    )
    if priority_col not in cols:
        out = out.withColumn(priority_col, F.lit(0))
    return out.withColumn("_enqueued_at", F.current_timestamp())


def drain_retry_table(
    table: DataFrame,
    n: int,
    priority_col: str = "priority",
    retry_col: str = "retry_count",
    id_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Take the top-n aged-priority rows (TakeOrderedAndProject — no
    total sort at scale).

    SIDE EFFECT: pins ``spark.sql.session.timeZone=UTC`` on the live
    session (the engine-wide contract ``io.read_table`` also asserts).
    effective_priority's NTZ→TIMESTAMP cast is instant-preserving only
    under UTC, and a retry table can arrive from any host session
    (getOrCreate ignores builder conf on a live session). Queries in
    the same session that rely on a non-UTC zone for timestamp
    parsing/formatting will see UTC after this call — the engine
    assumes all sessions it touches run UTC (session.get_session)."""
    from electrician_spark.operators.priority import drain, effective_priority

    table.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")

    eff = effective_priority(
        F.col(priority_col), F.col("_enqueued_at"), F.current_timestamp(), F.col(retry_col)
    )
    # drain() is deterministic only with explicit tiebreak keys; with
    # no id_cols, tie-break on every payload column so two drains of
    # the same table pick the same rows (no double-retry / starvation
    # from partition-order luck).
    tiebreak_cols = list(id_cols) or [c for c in table.columns if c != "_enqueued_at"]
    return drain(
        table.withColumn("_eff", eff), F.col("_eff"), n, [F.col(c) for c in tiebreak_cols]
    ).drop("_eff")
