"""Custom stateful streaming operators: the reliable-ordered
resequencer and the event-time token-bucket rate limiter, driven
through real readStream micro-batches so state must survive batch
boundaries."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, DoubleType, StringType, StructField, StructType

from electrician_spark.queries import _memory_run
from electrician_spark.streaming import stateful
from electrician_spark.streaming.sinks import await_stream
from electrician_spark.streaming.sources import arrival_waves

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


def _deliver(spark, op, schema, batches, no_data_batches=True):
    """Run ``op`` over one micro-batch per entry of ``batches`` (lists
    of records) into a memory sink and return the sink's rows."""
    waves = [spark.createDataFrame(b, schema) for b in batches]
    return _memory_run(
        spark,
        "t_stateful_",
        lambda src: op(arrival_waves(spark, src, waves)),
        no_data_batches=no_data_batches,
    ).collect()


def test_resequencer_buffers_gaps_across_batches(spark):
    # batch 0 arrives out of order and with a gap; seq 1 only in batch 1;
    # batch 2 has a duplicate of an already-delivered seq (dropped).
    out = _deliver(
        spark,
        stateful.resequence,
        RESEQ_SCHEMA,
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
    by_key = {}
    for r in sorted(out, key=lambda r: (r.key, r.seq)):
        by_key.setdefault(r.key, []).append((r.seq, r.payload))
    assert by_key["a"] == [(1, "a1"), (2, "a2"), (3, "a3")]  # no 'dup'
    assert by_key["b"] == [(1, "b1"), (2, "b2"), (3, "b3")]


def test_resequencer_holds_back_unfilled_gap(spark):
    out = _deliver(
        spark, stateful.resequence, RESEQ_SCHEMA, [[{"key": "a", "seq": 2, "payload": "a2"}]]
    )
    assert out == []  # seq 1 never arrived; nothing may be emitted


def test_resequencer_restart_resumes_buffered_gap(spark, tmp_path):
    """A restarted query reads its buffered gap back from the state
    store's delta files: a2 arrives only after the restart, and a3/a4,
    buffered behind it in the first run, must come out then, once and
    in order."""
    src, ck, held = str(tmp_path / "src"), str(tmp_path / "ck"), str(tmp_path / "held.json")
    batches = [
        [{"key": "a", "seq": 1, "payload": "a1"}, {"key": "a", "seq": 3, "payload": "a3"},
         {"key": "b", "seq": 2, "payload": "b2"}],
        [{"key": "a", "seq": 4, "payload": "a4"}, {"key": "b", "seq": 1, "payload": "b1"},
         {"key": "b", "seq": 3, "payload": "b3"}],
        [{"key": "a", "seq": 2, "payload": "a2"}, {"key": "b", "seq": 4, "payload": "b4"}],
    ]
    stream = arrival_waves(spark, src, [spark.createDataFrame(b, RESEQ_SCHEMA) for b in batches])
    os.replace(os.path.join(src, "w0002.json"), held)  # arrives after the restart
    emitted: list[tuple[str, int, str]] = []

    def collect(batch, _epoch):
        emitted.extend((r.key, r.seq, r.payload) for r in batch.collect())

    def run():
        q = (
            stateful.resequence(stream).writeStream.foreachBatch(collect)
            .option("checkpointLocation", ck).trigger(availableNow=True).start()
        )
        await_stream(q, 120)

    run()
    assert sorted(emitted) == [("a", 1, "a1"), ("b", 1, "b1"), ("b", 2, "b2"), ("b", 3, "b3")]
    os.replace(held, os.path.join(src, "w0002.json"))
    run()
    for key in ("a", "b"):
        assert [(s, p) for k, s, p in emitted if k == key] == [(s, f"{key}{s}") for s in range(1, 5)]


def test_rate_limit_event_time_refill(spark):
    # capacity 2, refill 1/s. Key a: t=0,0,0 → admit,admit,divert;
    # t=5 (next batch, +5s refill capped at 2) → admit.
    out = _deliver(
        spark,
        lambda st: stateful.rate_limit(st, capacity=2, refill_per_sec=1.0),
        RATE_SCHEMA,
        [
            [
                {"key": "a", "event_time_s": 0.0, "payload": "p1"},
                {"key": "a", "event_time_s": 0.0, "payload": "p2"},
                {"key": "a", "event_time_s": 0.0, "payload": "p3"},
            ],
            [{"key": "a", "event_time_s": 5.0, "payload": "p4"}],
        ],
    )
    decisions = {r.payload: r.admitted for r in out}
    assert sum(1 for v in decisions.values() if v == "admit") == 3
    assert decisions["p3"] == "divert" or decisions["p2"] == "divert"  # one of the burst
    assert decisions["p4"] == "admit"  # refilled across the batch boundary


def test_rate_limit_marks_not_drops(spark):
    recs = [{"key": "k", "event_time_s": 0.0, "payload": f"p{i}"} for i in range(10)]
    out = _deliver(
        spark,
        lambda st: stateful.rate_limit(st, capacity=3, refill_per_sec=0.0),
        RATE_SCHEMA,
        [recs],
    )
    assert len(out) == 10  # every record appears, marked
    assert sum(1 for r in out if r.admitted == "admit") == 3


def test_resequencer_idle_timeout_flushes_and_drops_state(spark):
    """With idle_timeout_ms set, a key that stops sending gets its
    buffer FLUSHED in order (gaps abandoned) on a later batch, and its
    state dropped — dead upstream sessions cannot pin the state store.
    Keys still sending are untouched."""
    out = _deliver(
        spark,
        lambda st: stateful.resequence(st, idle_timeout_ms=1),
        RESEQ_SCHEMA,
        [
            [
                {"key": "a", "seq": 3, "payload": "a3"},  # gap: 1,2 missing
                {"key": "a", "seq": 5, "payload": "a5"},
                {"key": "b", "seq": 1, "payload": "b1"},
            ],
            [{"key": "b", "seq": 2, "payload": "b2"}],  # 'a' idle -> times out
        ],
        no_data_batches=False,
    )
    by_key = {}
    for r in sorted(out, key=lambda r: (r.key, r.seq)):
        by_key.setdefault(r.key, []).append((r.seq, r.payload))
    # a's buffer flushed in order on timeout, gaps skipped
    assert by_key["a"] == [(3, "a3"), (5, "a5")]
    # b delivered normally
    assert by_key["b"] == [(1, "b1"), (2, "b2")]


def test_rate_limit_idle_timeout_resets_bucket(spark):
    """A key idle past idle_timeout_ms drops its bucket state; when it
    returns, it starts with a FULL bucket (capacity admits again)."""
    out = _deliver(
        spark,
        lambda st: stateful.rate_limit(st, capacity=2, refill_per_sec=0.0, idle_timeout_ms=1),
        RATE_SCHEMA,
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
        no_data_batches=False,
    )
    marks = {r.payload: r.admitted for r in out}
    assert marks == {"p1": "admit", "p2": "admit", "p3": "divert", "q1": "admit", "p4": "admit"}


def test_rate_limit_nan_timestamp_does_not_poison_key(spark):
    # A null/NaN event time as a key's FIRST record must not become
    # last_s: stored NaN disables refill forever (t > NaN is always
    # False, max(NaN, t) keeps NaN). The dirty row spends a token;
    # refill resumes from the first real timestamp.
    out = _deliver(
        spark,
        lambda st: stateful.rate_limit(st, capacity=2, refill_per_sec=1.0),
        RATE_SCHEMA,
        [
            [
                {"key": "a", "event_time_s": None, "payload": "p0"},
                {"key": "a", "event_time_s": 0.0, "payload": "p1"},
                {"key": "a", "event_time_s": 0.0, "payload": "p2"},
            ],
            [{"key": "a", "event_time_s": 5.0, "payload": "p3"}],
        ],
    )
    decisions = {r.payload: r.admitted for r in out}
    # capacity 2: two of the first batch admit, one diverts; the +5s
    # batch MUST refill and admit (a poisoned NaN last_s would divert)
    assert sum(1 for v in decisions.values() if v == "admit") == 3
    assert decisions["p3"] == "admit", decisions


def _reseq_waves(spark):
    return [
        spark.createDataFrame([{"key": "a", "seq": 2, "payload": "a2"}], RESEQ_SCHEMA),
        spark.createDataFrame([{"key": "a", "seq": 1, "payload": "a1"}], RESEQ_SCHEMA),
    ]


def test_memory_run_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """The runner's temp dir (source files and checkpoint) is gone once
    it returns, and the returned table still reads: the memory sink holds
    the rows in the driver."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    waves = _reseq_waves(spark)
    out = _memory_run(
        spark, "t_run_", lambda src: stateful.resequence(arrival_waves(spark, src, waves))
    )
    assert os.listdir(tmp_path) == []
    assert sorted((r.seq, r.payload) for r in out.collect()) == [(1, "a1"), (2, "a2")]


def test_memory_run_restores_session_confs_when_stream_raises(spark, tmp_path, monkeypatch):
    """The runner's shuffle-partition and no-data-batch confs last only
    for the run: a failing stream raises and leaves the caller's values
    (and no temp dir) behind."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    waves = _reseq_waves(spark)
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        with pytest.raises(StreamingQueryException, match="boom"):
            _memory_run(
                spark,
                "t_run_fail_",
                lambda src: arrival_waves(spark, src, waves).select(
                    "key", F.raise_error(F.lit("boom")).cast("string").alias("payload")
                ),
                no_data_batches=False,
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get(no_data) == "true"
        assert os.listdir(tmp_path) == []
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_await_stream_raises_timeout_when_done_never_holds(spark, tmp_path):
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop").option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="100 milliseconds").start()
    )
    try:
        with pytest.raises(TimeoutError):
            await_stream(q, timeout_sec=2, done=lambda: False)
        assert not q.isActive
    finally:
        q.stop()
