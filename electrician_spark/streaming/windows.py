"""Event-time windowing — batch-equivalent forms.

These helpers express the reference's time-bucketed behaviors
(sink batch windows, poll windows, meter rates — SURVEY §2.7) as Spark
window aggregations. They work identically on batch DataFrames and
streaming DataFrames (the declared-query oracle checks them in batch
mode; tests/test_streaming.py replays the same data through readStream
with Trigger.availableNow and asserts equality).

Scale notes: tumbling/sliding windows aggregate with partial (map-side)
combine — the shuffle carries one row per (window, keys...) not per
event. Session windows shuffle by user key once; skewed users are
bounded by per-user event counts, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling(
    df: DataFrame, ts_col: str, duration: str, *aggs, extra_keys: list[str] | None = None
) -> DataFrame:
    """Tumbling event-time window (reference W1 sink roll / A2 rates)."""
    keys = [F.window(ts_col, duration).getField("start").alias("window_start")]
    keys += [F.col(k) for k in (extra_keys or [])]
    return df.groupBy(*keys).agg(*aggs)


def sliding(
    df: DataFrame, ts_col: str, duration: str, slide: str, *aggs
) -> DataFrame:
    """Sliding window — each event lands in duration/slide windows."""
    return df.groupBy(
        F.window(ts_col, duration, slide).getField("start").alias("window_start")
    ).agg(*aggs)


def session_counts(df: DataFrame, ts_col: str, user_col: str, gap: str) -> DataFrame:
    """Sessions per user with the given inactivity gap (reference has no
    session operator; this is the session shape from SURVEY Q-W3).
    Returns (user, n_sessions). Uses Spark's native session_window — in
    streaming this is stateful with watermark eviction; in batch it's a
    sort-based merge per key."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .count()
        .groupBy(user_col)
        .agg(F.count("*").alias("n_sessions"))
    )


def dedupe_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, delay: str
) -> DataFrame:
    """STREAMING dedupe-by-key with BOUNDED state (the reference's
    relay dedupe key, proto/electrician_relay.proto:33 +
    receivingrelay dedupe window — W8's true streaming form): a
    duplicate key arriving while the key's state is retained (within
    ``delay`` of the first arrival's event time) is dropped; once the
    watermark passes first-arrival-ts + delay the state is evicted and
    a re-arrival is admitted again. State is bounded by the delay
    horizon — what makes exact dedup feasible on an unbounded stream;
    an infinite-retention dedupe (plain ``dropDuplicates`` on a
    stream) grows state forever and is the classic streaming OOM."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)

