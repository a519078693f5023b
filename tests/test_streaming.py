"""Streaming tests: real readStream through Trigger.availableNow with
batch-equivalence against the declared-query oracles (SURVEY §5.2), the
foreachBatch router (fan-out / blackout / backup / DLQ / abort), and
watermark dedup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from electrician_spark.io import read_table
from electrician_spark.reliability import CircuitBreaker
from electrician_spark.streaming.sinks import (
    Blackout,
    ForEachBatchRouter,
    await_stream,
    memory_sink,
    outside_blackout,
)
from electrician_spark.streaming.sources import file_stream, kafka_source_options
from electrician_spark.streaming.windows import session_counts, sliding, tumbling
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare, duckdb_conn


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Stage the events fixture as a streamable directory (multiple
    files so availableNow sees several micro-batch splits)."""
    d = tmp_path_factory.mktemp("events_stream")
    read_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(str(d / "events"))
    return str(d / "events")


def _run_available_now(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return q


def test_streaming_tumbling_equals_batch(spark, events_dir):
    """The same tumbling-window aggregation through readStream must equal
    the batch result (micro-batch = reference channel hop, SURVEY §3.2)."""
    batch_df = spark.read.parquet(events_dir)
    expected = {
        r.window_start: (r.n, r.sum_value)
        for r in tumbling(
            batch_df, "ts", "1 hour", F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        ).collect()
    }
    stream = file_stream(spark, events_dir, batch_df.schema, max_files_per_trigger=2)
    agg = tumbling(
        stream, "ts", "1 hour", F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    _run_available_now(agg, "t_tumbling")
    got = {
        r.window_start: (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    assert got == expected


def test_sliding_windows_match_sql_replay(spark):
    """30-minute windows sliding every 15 minutes: every event lands in
    exactly two windows, counted as DuckDB's two-membership replay."""
    ev = read_table(spark, SF_ORACLE, "events")
    got = sliding(ev, "ts", "30 minutes", "15 minutes", F.count("*").alias("n"))
    start = "make_timestamp(CAST(floor(epoch_us(ts) / 900000000.0) * 900000000 AS BIGINT))"
    con = duckdb_conn(SF_ORACLE)
    want = con.execute(
        f"SELECT window_start, count(*) AS n FROM (SELECT {start} AS window_start FROM events "
        f"UNION ALL SELECT {start} - INTERVAL 15 MINUTE FROM events) t GROUP BY 1"
    ).fetchdf()
    con.close()
    res = compare("sliding", got, want)
    assert res.ok, res.detail
    assert sum(want["n"]) == 2 * ev.count()


def test_file_stream_rejects_non_utc_session(spark, events_dir):
    """file_stream must fail fast on a non-UTC session instead of
    silently mutating the global timezone conf (the NTZ→TZ cast it
    performs is only instant-preserving under UTC)."""
    import pytest

    batch_df = spark.read.parquet(events_dir)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone=UTC"):
            file_stream(spark, events_dir, batch_df.schema)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_streaming_dedup_with_watermark(spark, events_dir):
    """dropDuplicatesWithinWatermark (W8 dedupe_key)."""
    batch_df = spark.read.parquet(events_dir)
    expected = batch_df.select("user_id", "event_type").distinct().count()
    stream = file_stream(spark, events_dir, batch_df.schema)
    dedup = (
        stream.withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy()
        .count()
    )
    _run_available_now(dedup, "t_dedup")
    got = spark.sql("SELECT * FROM t_dedup").collect()[0]["count"]
    assert got == expected


def test_streaming_session_window_equals_batch(spark, events_dir):
    """One stateful op in the stream (session_window agg); the per-user
    session count folds up from the emitted windows — chaining two
    stateful aggs behind one watermark trips Spark's correctness check,
    so the rollup belongs downstream (or in foreachBatch)."""
    batch_df = spark.read.parquet(events_dir)
    expected = {r.user_id: r.n_sessions for r in session_counts(batch_df, "ts", "user_id", "10 minutes").collect()}
    stream = file_stream(spark, events_dir, batch_df.schema)
    windows = (
        stream.withWatermark("ts", "48 hours")
        .groupBy(F.session_window(F.col("ts"), "10 minutes"), F.col("user_id"))
        .count()
    )
    _run_available_now(windows, "t_sessions")
    got = {
        r.user_id: r.n_sessions
        for r in spark.sql(
            "SELECT user_id, count(*) AS n_sessions FROM t_sessions GROUP BY user_id"
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# foreachBatch router
# ---------------------------------------------------------------------------


def _batch(spark, rows="(1, 'ok'), (2, 'error'), (3, 'ok')"):
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(id, status)")


def test_router_fan_out_and_dlq(spark):
    main1, main2, dlq = [], [], []
    router = ForEachBatchRouter(
        sinks=[memory_sink(main1), memory_sink(main2)],
        dlq_sink=memory_sink(dlq),
        error_condition=F.col("status") == "error",
    )
    router(_batch(spark), 0)
    assert sorted(r.id for r in main1) == [1, 3]
    assert sorted(r.id for r in main2) == [1, 3]
    assert [r.id for r in dlq] == [2]


def test_router_blackout_stashes(spark):
    main, stash = [], []
    blackout = Blackout(dt.time(0, 0), dt.time(23, 59, 59))  # always active
    router = ForEachBatchRouter(sinks=[memory_sink(main)], blackout=blackout, stash=memory_sink(stash))
    router(_batch(spark), 0)
    assert main == [] and len(stash) == 3


def test_outside_blackout_matches_sql_replay(spark):
    """The event-time blackout 01:30-03:00 over the events fixture,
    against DuckDB's whole-second time-of-day replay."""
    ev = read_table(spark, SF_ORACLE, "events")
    keep = outside_blackout(F.col("ts"), dt.time(1, 30), dt.time(3, 0))
    got = ev.filter(keep).groupBy("event_type").agg(F.count("*").alias("n"))
    sod = "date_part('hour', ts)*3600 + date_part('minute', ts)*60 + date_part('second', ts)"
    con = duckdb_conn(SF_ORACLE)
    want = con.execute(
        f"SELECT event_type, count(*) AS n FROM events "
        f"WHERE NOT ({sod} >= 5400 AND {sod} < 10800) GROUP BY event_type"
    ).fetchdf()
    con.close()
    res = compare("outside_blackout", got, want)
    assert res.ok, res.detail
    assert 0 < res.spark_rows and sum(want["n"]) < ev.count()  # the window drops rows


@pytest.mark.parametrize(
    "start,end",
    [(dt.time(1, 30), dt.time(3, 0)), (dt.time(23, 0), dt.time(1, 0))],
    ids=["same_day", "crosses_midnight"],
)
def test_outside_blackout_agrees_with_wall_clock_blackout(spark, start, end):
    """Row-wise ``outside_blackout`` is the negation of
    ``Blackout.active`` at the same time of day, on both sides of each
    half-open boundary; sub-second times truncate to the second."""
    times = [
        dt.time(0, 0), dt.time(0, 59, 59), dt.time(1, 0), dt.time(1, 29, 59),
        dt.time(1, 29, 59, 900000), dt.time(1, 30), dt.time(2, 59, 59), dt.time(3, 0),
        dt.time(12, 0), dt.time(22, 59, 59), dt.time(23, 0), dt.time(23, 59, 59),
    ]
    day = dt.date(2024, 1, 2)
    stamps = [dt.datetime.combine(day, t).isoformat(sep=" ") for t in times]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(stamps)], "i int, s string")
    got = {
        r.i: r.keep
        for r in df.select(
            "i", outside_blackout(F.to_timestamp("s"), start, end).alias("keep")
        ).collect()
    }
    for i, t in enumerate(times):
        wall = Blackout(start, end, clock=lambda t=t: dt.datetime.combine(day, t))
        assert got[i] == (not wall.active()), (start, end, t)


def test_router_breaker_reroutes_to_backup(spark):
    main, backup = [], []
    cb = CircuitBreaker(threshold=1)
    cb.record_error()  # force open
    router = ForEachBatchRouter(sinks=[memory_sink(main)], backups=[memory_sink(backup)], breaker=cb)
    router(_batch(spark), 0)
    assert main == [] and len(backup) == 3


def test_router_error_ratio_abort(spark):
    aborted = []
    router = ForEachBatchRouter(
        sinks=[memory_sink([])],
        dlq_sink=memory_sink([]),
        error_condition=F.col("status") == "error",
        error_ratio_abort=0.3,
        on_abort=lambda: aborted.append(True),
    )
    with pytest.raises(RuntimeError, match="error ratio"):
        router(_batch(spark), 0)
    assert aborted == [True]


def test_kafka_source_options_mapping():
    """S4 reader config surface → Spark Kafka options (config-only; no
    broker in this environment)."""
    opts = kafka_source_options(
        topics=["a", "b"],
        bootstrap_servers="broker:9092",
        start_at="earliest",
        max_offsets_per_trigger=10_000,
        group_id="g1",
    )
    assert opts["subscribe"] == "a,b"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "10000"
    ts = kafka_source_options(topics=["a"], bootstrap_servers="b:9092", start_timestamp_ms=123)
    assert "startingOffsetsByTimestamp" in ts and "startingOffsets" not in ts


def test_checkpoint_restart_processes_each_file_exactly_once(spark, tmp_path):
    """R5 exactly-once progress: an availableNow run checkpoints which
    source files it has consumed; after new files arrive, a SECOND run
    from the same checkpoint must process only the new files — the
    append sink ends up with every row exactly once across restarts
    (the reference's manual commit-after-submit, for free)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 50).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    def run_once():
        stream = spark.readStream.schema("id long, v long").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 120)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 50

    # restart with no new data: nothing reprocessed
    run_once()
    assert spark.read.parquet(out).count() == 50

    # new file arrives; restart processes ONLY it
    spark.range(100, 130).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    rows = spark.read.parquet(out)
    assert rows.count() == 80
    assert rows.select("id").distinct().count() == 80  # exactly once, no dups


def test_router_abort_requires_error_condition(spark):
    # error_ratio_abort without error_condition would silently never
    # evaluate (the check lives on the error path) — reject at
    # construction (r15 review finding).
    with pytest.raises(ValueError, match="error_condition"):
        ForEachBatchRouter(sinks=[memory_sink([])], error_ratio_abort=0.5)
