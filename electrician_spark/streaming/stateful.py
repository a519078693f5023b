"""Custom stateful streaming operators (applyInPandasWithState).

Two reference behaviors have genuinely per-record, cross-batch state
that Spark's built-in operators can't express:

- **Resequencer** — the receiving side of DELIVERY_RELIABLE_ORDERED
  (/root/reference/proto/electrician_relay.proto:168-173): the forward
  relay stamps a per-session ``seq`` (forwardrelay/submit.go:29) and
  the receiver must deliver per-key in seq order, buffering gaps until
  the missing element arrives. State per key = next expected seq + the
  out-of-order buffer.

- **Token-bucket rate limiter** — the surge protector's per-component
  bucket (surgeprotector/rate_limit.go:49-76): capacity + refill rate,
  refilled by elapsed *event time*, deciding admit/divert per record.
  State per key = current tokens + last refill timestamp. Event-time
  refill keeps replays deterministic (wall-clock would not be).

Both run as Arrow-batched pandas functions with explicit GroupState —
state lives in the state store (checkpointed, partitioned by key), so
a 1000-executor cluster holds disjoint key ranges with no coordination.
Buffers are bounded by the key's in-flight gap, not stream length; a
production deployment adds a state TTL via GroupStateTimeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RESEQ_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("payload", StringType()),
    ]
)
_RESEQ_STATE = StructType(
    [
        StructField("next_seq", LongType()),
        StructField("buf_seqs", ArrayType(LongType())),
        StructField("buf_payloads", ArrayType(StringType())),
    ]
)


def resequence(
    grouped_or_df: DataFrame,
    key_col: str = "key",
    seq_col: str = "seq",
    payload_col: str = "payload",
    first_seq: int = 1,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Emit rows per key in contiguous ``seq`` order, buffering gaps
    across micro-batches. Duplicate/stale seqs (< next expected) are
    dropped — receiver-side dedupe for at-least-once upstreams.

    ``idle_timeout_ms`` bounds state lifetime at scale: a key idle for
    that long (processing time) FLUSHES its buffer in seq order —
    gaps abandoned, whatever arrived is delivered — and drops its
    state, so keys that die upstream (the reference's TTL'd sessions)
    cannot pin the state store forever. Without it, state is bounded
    only by per-key in-flight gaps."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            next_seq, buf_seqs, buf_payloads = state.get
            buf = dict(zip(buf_seqs, buf_payloads))
        else:
            next_seq, buf = first_seq, {}
        if idle_timeout_ms is not None and getattr(state, "hasTimedOut", False):
            # idle flush: deliver the buffer in order, abandoning gaps
            out = sorted(buf)
            state.remove()
            if out:
                yield pd.DataFrame(
                    {"key": key[0], "seq": out, "payload": [buf[s] for s in out]}
                )
            return
        for pdf in pdfs:
            for s, p in zip(pdf[seq_col], pdf[payload_col]):
                s = int(s)
                if s >= next_seq:
                    buf[s] = p  # late duplicates of buffered seqs overwrite, same payload
        out_seqs: list[int] = []
        out_payloads: list[str] = []
        while next_seq in buf:
            out_seqs.append(next_seq)
            out_payloads.append(buf.pop(next_seq))
            next_seq += 1
        state.update((next_seq, sorted(buf), [buf[s] for s in sorted(buf)]))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if out_seqs:
            yield pd.DataFrame(
                {"key": key[0], "seq": out_seqs, "payload": out_payloads}
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return grouped_or_df.groupBy(key_col).applyInPandasWithState(
        fn, RESEQ_OUTPUT, _RESEQ_STATE, "append", timeout
    )


RATE_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("event_time_s", DoubleType()),
        StructField("payload", StringType()),
        StructField("admitted", StringType()),  # 'admit' | 'divert'
    ]
)
_RATE_STATE = StructType(
    [StructField("tokens", DoubleType()), StructField("last_s", DoubleType())]
)


def rate_limit(
    df: DataFrame,
    capacity: float,
    refill_per_sec: float,
    key_col: str = "key",
    time_col: str = "event_time_s",
    payload_col: str = "payload",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key token bucket over event time. Each record costs one
    token; tokens refill at ``refill_per_sec`` up to ``capacity``.
    Rejected records are *marked* ``divert`` rather than dropped — the
    surge protector's divert-to-backup path (submit.go:17-32) is then a
    filter + alternate sink, and nothing is silently lost.

    ``idle_timeout_ms`` bounds state at scale: a key idle past the
    bound simply drops its bucket (a returning key starts full, which
    refill semantics would converge to anyway)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if idle_timeout_ms is not None and getattr(state, "hasTimedOut", False):
            state.remove()
            return
        tokens, last_s = state.get if state.exists else (float(capacity), None)
        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(pdf[time_col].astype(float), pdf[payload_col].astype(str))
            )
        rows.sort(key=lambda r: r[0])  # event-time order within the batch
        out_t, out_p, out_a = [], [], []
        for t, p in rows:
            # NaN event time (null/dirty row): admit/divert on current
            # tokens but never let NaN into last_s — a NaN stored as the
            # first-ever last_s disables refill for the key FOREVER
            # (every later `t > NaN` is False and max(NaN, t) keeps NaN)
            if t == t:  # not NaN
                if last_s is not None and t > last_s:
                    tokens = min(float(capacity), tokens + (t - last_s) * refill_per_sec)
                last_s = t if last_s is None else max(last_s, t)
            if tokens >= 1.0:
                tokens -= 1.0
                out_a.append("admit")
            else:
                out_a.append("divert")
            out_t.append(t)
            out_p.append(p)
        state.update((tokens, last_s if last_s is not None else 0.0))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if out_t:
            yield pd.DataFrame(
                {
                    "key": key[0],
                    "event_time_s": out_t,
                    "payload": out_p,
                    "admitted": out_a,
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        fn, RATE_OUTPUT, _RATE_STATE, "append", timeout
    )
