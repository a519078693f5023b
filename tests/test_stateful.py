"""Custom stateful streaming operators: the reliable-ordered
resequencer and the event-time token-bucket rate limiter, driven
through real readStream micro-batches so state must survive batch
boundaries."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql.types import LongType, DoubleType, StringType, StructField, StructType

from electrician_spark.streaming import stateful
from electrician_spark.streaming.sources import file_stream

RESEQ_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("payload", StringType()),
    ]
)
RATE_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("event_time_s", DoubleType()),
        StructField("payload", StringType()),
    ]
)


def _write_batches(dirpath: str, batches: list[list[dict]]) -> None:
    """One NDJSON file per micro-batch, mtime-ordered so
    maxFilesPerTrigger=1 replays them in sequence."""
    os.makedirs(dirpath, exist_ok=True)
    for i, batch in enumerate(batches):
        with open(os.path.join(dirpath, f"b{i:04d}.json"), "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")
        os.utime(os.path.join(dirpath, f"b{i:04d}.json"), (time.time() + i, time.time() + i))


def _run(spark, stream_df, name: str, checkpoint: str, expect_rows: int | None = None):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if expect_rows is not None:
        # ProcessingTimeTimeout queries never self-terminate under
        # availableNow (see stateful.drain_timeout_query) — poll the
        # sink for the expected delivery instead of burning the full
        # awaitTermination budget.
        stateful.drain_timeout_query(
            q, lambda: spark.table(name).count() >= expect_rows, timeout_sec=120
        )
    else:
        q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_resequencer_buffers_gaps_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 0 arrives out of order and with a gap; seq 1 only in batch 1;
    # batch 2 has a duplicate of an already-delivered seq (dropped).
    _write_batches(
        src,
        [
            [
                {"key": "a", "seq": 3, "payload": "a3"},
                {"key": "a", "seq": 2, "payload": "a2"},
                {"key": "b", "seq": 1, "payload": "b1"},
            ],
            [{"key": "a", "seq": 1, "payload": "a1"}, {"key": "b", "seq": 3, "payload": "b3"}],
            [{"key": "a", "seq": 2, "payload": "dup"}, {"key": "b", "seq": 2, "payload": "b2"}],
        ],
    )
    stream = file_stream(spark, src, RESEQ_SCHEMA, max_files_per_trigger=1, fmt="json")
    out = _run(
        spark, stateful.resequence(stream), "t_reseq", str(tmp_path / "ck")
    ).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r.key, r.seq)):
        by_key.setdefault(r.key, []).append((r.seq, r.payload))
    assert by_key["a"] == [(1, "a1"), (2, "a2"), (3, "a3")]  # no 'dup'
    assert by_key["b"] == [(1, "b1"), (2, "b2"), (3, "b3")]


def test_resequencer_holds_back_unfilled_gap(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(src, [[{"key": "a", "seq": 2, "payload": "a2"}]])
    stream = file_stream(spark, src, RESEQ_SCHEMA, max_files_per_trigger=1, fmt="json")
    out = _run(spark, stateful.resequence(stream), "t_reseq_gap", str(tmp_path / "ck"))
    assert out.count() == 0  # seq 1 never arrived; nothing may be emitted


def test_resequencer_restart_resumes_buffered_gap(spark, tmp_path):
    """A restarted query reads its buffered gap back from the state
    store's delta files: a2 arrives only after the restart, and a3/a4,
    buffered behind it in the first run, must come out then, once and
    in order."""
    src, ck, held = str(tmp_path / "src"), str(tmp_path / "ck"), str(tmp_path / "held.json")
    _write_batches(
        src,
        [
            [{"key": "a", "seq": 1, "payload": "a1"}, {"key": "a", "seq": 3, "payload": "a3"},
             {"key": "b", "seq": 2, "payload": "b2"}],
            [{"key": "a", "seq": 4, "payload": "a4"}, {"key": "b", "seq": 1, "payload": "b1"},
             {"key": "b", "seq": 3, "payload": "b3"}],
            [{"key": "a", "seq": 2, "payload": "a2"}, {"key": "b", "seq": 4, "payload": "b4"}],
        ],
    )
    os.replace(os.path.join(src, "b0002.json"), held)  # arrives after the restart
    emitted: list[tuple[str, int, str]] = []

    def collect(batch, _epoch):
        emitted.extend((r.key, r.seq, r.payload) for r in batch.collect())

    def run():
        stream = file_stream(spark, src, RESEQ_SCHEMA, max_files_per_trigger=1, fmt="json")
        (
            stateful.resequence(stream).writeStream.foreachBatch(collect)
            .option("checkpointLocation", ck).trigger(availableNow=True).start()
            .awaitTermination(120)
        )

    run()
    assert sorted(emitted) == [("a", 1, "a1"), ("b", 1, "b1"), ("b", 2, "b2"), ("b", 3, "b3")]
    os.replace(held, os.path.join(src, "b0002.json"))
    run()
    for key in ("a", "b"):
        assert [(s, p) for k, s, p in emitted if k == key] == [(s, f"{key}{s}") for s in range(1, 5)]


def test_rate_limit_event_time_refill(spark, tmp_path):
    src = str(tmp_path / "src")
    # capacity 2, refill 1/s. Key a: t=0,0,0 → admit,admit,divert;
    # t=5 (next batch, +5s refill capped at 2) → admit.
    _write_batches(
        src,
        [
            [
                {"key": "a", "event_time_s": 0.0, "payload": "p1"},
                {"key": "a", "event_time_s": 0.0, "payload": "p2"},
                {"key": "a", "event_time_s": 0.0, "payload": "p3"},
            ],
            [{"key": "a", "event_time_s": 5.0, "payload": "p4"}],
        ],
    )
    stream = file_stream(spark, src, RATE_SCHEMA, max_files_per_trigger=1, fmt="json")
    out = _run(
        spark,
        stateful.rate_limit(stream, capacity=2, refill_per_sec=1.0),
        "t_rate",
        str(tmp_path / "ck"),
    ).collect()
    decisions = {r.payload: r.admitted for r in out}
    assert sum(1 for v in decisions.values() if v == "admit") == 3
    assert decisions["p3"] == "divert" or decisions["p2"] == "divert"  # one of the burst
    assert decisions["p4"] == "admit"  # refilled across the batch boundary


def test_rate_limit_marks_not_drops(spark, tmp_path):
    src = str(tmp_path / "src")
    recs = [{"key": "k", "event_time_s": 0.0, "payload": f"p{i}"} for i in range(10)]
    _write_batches(src, [recs])
    stream = file_stream(spark, src, RATE_SCHEMA, fmt="json")
    out = _run(
        spark,
        stateful.rate_limit(stream, capacity=3, refill_per_sec=0.0),
        "t_rate2",
        str(tmp_path / "ck"),
    )
    assert out.count() == 10  # every record appears, marked
    assert out.filter("admitted = 'admit'").count() == 3


def test_resequencer_idle_timeout_flushes_and_drops_state(spark, tmp_path):
    """With idle_timeout_ms set, a key that stops sending gets its
    buffer FLUSHED in order (gaps abandoned) on a later batch, and its
    state dropped — dead upstream sessions cannot pin the state store.
    Keys still sending are untouched."""
    src = str(tmp_path / "src")
    _write_batches(
        src,
        [
            [
                {"key": "a", "seq": 3, "payload": "a3"},  # gap: 1,2 missing
                {"key": "a", "seq": 5, "payload": "a5"},
                {"key": "b", "seq": 1, "payload": "b1"},
            ],
            [{"key": "b", "seq": 2, "payload": "b2"}],  # 'a' idle -> times out
        ],
    )
    stream = file_stream(spark, src, RESEQ_SCHEMA, max_files_per_trigger=1, fmt="json")
    out = _run(
        spark,
        stateful.resequence(stream, idle_timeout_ms=1),
        "t_reseq_ttl",
        str(tmp_path / "ck_ttl"),
        expect_rows=4,  # a3,a5 flushed + b1,b2 delivered
    ).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r.key, r.seq)):
        by_key.setdefault(r.key, []).append((r.seq, r.payload))
    # a's buffer flushed in order on timeout, gaps skipped
    assert by_key["a"] == [(3, "a3"), (5, "a5")]
    # b delivered normally
    assert by_key["b"] == [(1, "b1"), (2, "b2")]


def test_rate_limit_idle_timeout_resets_bucket(spark, tmp_path):
    """A key idle past idle_timeout_ms drops its bucket state; when it
    returns, it starts with a FULL bucket (capacity admits again)."""
    src = str(tmp_path / "src")
    _write_batches(
        src,
        [
            # batch 0: key a exhausts its 2-token bucket (3rd diverts)
            [
                {"key": "a", "event_time_s": 1.0, "payload": "p1"},
                {"key": "a", "event_time_s": 1.1, "payload": "p2"},
                {"key": "a", "event_time_s": 1.2, "payload": "p3"},
            ],
            # batch 1: other key; 'a' idles past the 1 ms timeout
            [{"key": "b", "event_time_s": 2.0, "payload": "q1"}],
            # batch 2: 'a' returns at the SAME event time — without the
            # reset it would still be empty (no event-time elapsed)
            [{"key": "a", "event_time_s": 1.2, "payload": "p4"}],
        ],
    )
    stream = file_stream(spark, src, RATE_SCHEMA, max_files_per_trigger=1, fmt="json")
    out = _run(
        spark,
        stateful.rate_limit(stream, capacity=2, refill_per_sec=0.0, idle_timeout_ms=1),
        "t_rate_ttl",
        str(tmp_path / "ck_rate_ttl"),
        expect_rows=5,  # p1..p4 + q1 all marked (never dropped)
    ).collect()
    marks = {r.payload: r.admitted for r in out}
    assert marks == {"p1": "admit", "p2": "admit", "p3": "divert", "q1": "admit", "p4": "admit"}


def test_rate_limit_nan_timestamp_does_not_poison_key(spark, tmp_path):
    # A null/NaN event time as a key's FIRST record must not become
    # last_s: stored NaN disables refill forever (t > NaN is always
    # False, max(NaN, t) keeps NaN) — r15 review finding. The dirty
    # row spends a token; refill resumes from the first real
    # timestamp.
    src = str(tmp_path / "src")
    _write_batches(
        src,
        [
            [
                {"key": "a", "event_time_s": None, "payload": "p0"},
                {"key": "a", "event_time_s": 0.0, "payload": "p1"},
                {"key": "a", "event_time_s": 0.0, "payload": "p2"},
            ],
            [{"key": "a", "event_time_s": 5.0, "payload": "p3"}],
        ],
    )
    stream = file_stream(spark, src, RATE_SCHEMA, max_files_per_trigger=1, fmt="json")
    out = _run(
        spark,
        stateful.rate_limit(stream, capacity=2, refill_per_sec=1.0),
        "t_rate_nan",
        str(tmp_path / "ck"),
    ).collect()
    decisions = {r.payload: r.admitted for r in out}
    # capacity 2: two of the first batch admit, one diverts; the +5s
    # batch MUST refill and admit (a poisoned NaN last_s would divert)
    assert sum(1 for v in decisions.values() if v == "admit") == 3
    assert decisions["p3"] == "admit", decisions
