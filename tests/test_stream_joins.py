"""Streaming enrichment joins (streaming/joins.py — SURVEY §2.5
composition S6+C3): stream-static broadcast enrichment and the
stream-stream event-time interval join.

The oracle rows (q_se1/q_sj1) attest end-to-end values; these tests
pin the PLAN (BroadcastHashJoin on every micro-batch — the zero-
stream-shuffle contract) and the semantics the oracle can't see
(outer-join null emission, guard rails, batch equivalence of the
interval condition).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from electrician_spark.streaming import joins as sjoins
from electrician_spark.streaming.sinks import await_stream


def _write_waves(dirpath, waves):
    os.makedirs(dirpath, exist_ok=True)
    for b, rows in enumerate(waves):
        p = os.path.join(dirpath, f"b{b}.json")
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
    base = os.path.getmtime(p)
    for b in range(len(waves)):
        os.utime(
            os.path.join(dirpath, f"b{b}.json"), (base - 100 + b, base - 100 + b)
        )


def _run_available_now(df, name, ckpt):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return q


def test_stream_static_broadcast_on_every_micro_batch(spark, tmp_path):
    """Each micro-batch's executed plan must contain a
    BroadcastHashJoin and NO shuffle of the stream side — the dim
    ships to executors, the stream keeps its source partitioning."""
    src = str(tmp_path / "src")
    _write_waves(
        src,
        [
            [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}],
            [{"k": 1, "v": "c"}],
            [{"k": 3, "v": "d"}],
        ],
    )
    dim = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k long, name string")
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    enriched = sjoins.enrich_stream_static(stream, dim, ["k"])
    q = (
        enriched.writeStream.format("memory")
        .queryName("ssj_plan")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    # three micro-batches ran (one file each), 4 rows delivered
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3, [p["batchId"] for p in q.recentProgress]
    assert spark.table("ssj_plan").count() == 4
    # the incremental execution (re-planned per micro-batch — this is
    # the last batch's executed physical plan) broadcasts the dim and
    # never shuffles the stream
    plan = q._jsq.explainInternal(False)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_stream_static_left_join_keeps_unmatched(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_waves(src, [[{"k": 1, "v": "a"}, {"k": 99, "v": "orphan"}]])
    dim = spark.createDataFrame([(1, "x")], "k long, name string")
    stream = spark.readStream.schema("k long, v string").json(src)
    out = sjoins.enrich_stream_static(stream, dim, ["k"], how="left")
    _run_available_now(out, "ssj_left", str(tmp_path / "ckpt"))
    got = {
        (r["k"], r["name"]) for r in spark.table("ssj_left").collect()
    }
    assert got == {(1, "x"), (99, None)}


def test_stream_static_rejects_right_join(spark):
    dim = spark.createDataFrame([(1, "x")], "k long, name string")
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="inner/left"):
        sjoins.enrich_stream_static(stream, dim, ["value"], how="right")


def test_interval_join_rejects_ambiguous_columns(spark):
    left = spark.readStream.format("rate").load()  # timestamp, value
    right = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="both sides"):
        sjoins.interval_join(
            left, right, keys=["value"], left_ts="timestamp", right_ts="timestamp"
        )


def test_interval_join_batch_equivalent_condition(spark):
    """The interval condition in BATCH mode (watermarks are no-ops on
    bounded data) must equal the hand-written range join — same
    [lower, upper] bounds, inclusive both ends."""
    left = spark.createDataFrame(
        [("a", 100.0), ("b", 200.0), ("c", 300.0)], "key string, l_e double"
    ).select("key", F.col("l_e").cast("timestamp").alias("l_ts"))
    right = spark.createDataFrame(
        [("a", 100.0), ("a", 399.0), ("a", 401.0), ("b", 150.0), ("c", 360.0)],
        "key string, r_e double",
    ).select("key", F.col("r_e").cast("timestamp").alias("r_ts"))
    out = sjoins.interval_join(
        left,
        right,
        keys=["key"],
        left_ts="l_ts",
        right_ts="r_ts",
        lower="0 seconds",
        upper="5 minutes",
    )
    got = {
        (r["key"], int(r["l_ts"].timestamp()), int(r["r_ts"].timestamp()))
        for r in out.collect()
    }
    # a@100: right 100 (dt 0, inclusive lower) and 399 (dt 299) match,
    # 401 (dt 301 > 300) does not; b@200: 150 is BEFORE (dt<0) — no;
    # c@300: 360 (dt 60) matches.
    assert got == {("a", 100, 100), ("a", 100, 399), ("c", 300, 360)}


def test_interval_join_left_outer_emits_null_after_watermark(spark, tmp_path):
    """Left-outer interval join: an unmatched left row emits its
    null-padded form once the watermark proves no match can arrive."""
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    t0 = 1_700_000_000
    _write_waves(
        lsrc,
        [
            [{"key": "m", "ts_e": t0 + 0, "l_id": 1},
             {"key": "u", "ts_e": t0 + 10, "l_id": 2}],
            [{"key": "zl", "ts_e": t0 + 5000, "l_id": 3}],
            [{"key": "zl2", "ts_e": t0 + 5100, "l_id": 4}],
        ],
    )
    _write_waves(
        rsrc,
        [
            [{"key": "m", "ts_e": t0 + 60, "r_id": 7}],
            [{"key": "zr", "ts_e": t0 + 5000, "r_id": 8}],
            [{"key": "zr2", "ts_e": t0 + 5100, "r_id": 9}],
        ],
    )

    def _stream(src, cols):
        return (
            spark.readStream.schema(f"key string, ts_e double, {cols}")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    left = _stream(lsrc, "l_id long").select(
        "key", "l_id", F.col("ts_e").cast("timestamp").alias("l_ts")
    )
    right = _stream(rsrc, "r_id long").select(
        "key", "r_id", F.col("ts_e").cast("timestamp").alias("r_ts")
    )
    out = sjoins.interval_join(
        left,
        right,
        keys=["key"],
        left_ts="l_ts",
        right_ts="r_ts",
        lower="0 seconds",
        upper="5 minutes",
        left_delay="10 minutes",
        right_delay="10 minutes",
        how="left_outer",
    )
    _run_available_now(out, "sij_outer", str(tmp_path / "ckpt"))
    got = {
        (r["key"], r["l_id"], r["r_id"])
        for r in spark.table("sij_outer").filter(
            ~F.col("key").startswith("z")
        ).collect()
    }
    assert got == {("m", 1, 7), ("u", 2, None)}


def test_stream_enriched_with_jdbc_dim(spark, tmp_path):
    """The reference's LITERAL correlation pattern (SURVEY §2.5 S6+C3:
    'enrich a live event stream with customer metadata read from
    Postgres'): the dimension side is a real JDBC read (embedded
    Derby — Spark's bundled stand-in for Postgres, same reader path),
    broadcast into a stream-static join over a two-micro-batch event
    stream. Every event must come back wearing its customer name, the
    plan must broadcast (never shuffle the stream), and the dim is
    re-read from the database each micro-batch (the slowly-changing-
    dim contract — stream-static re-evaluates the batch side)."""
    from electrician_spark import io as eio

    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    spark.createDataFrame(
        [(1, "acme"), (2, "globex"), (3, "initech")], "cust_id long, name string"
    ).write.format("jdbc").option("url", url).option("dbtable", "cust").option(
        "driver", props["driver"]
    ).mode("overwrite").save()

    src = str(tmp_path / "events")
    _write_waves(
        src,
        [
            [{"cust_id": 1, "amt": 10.0}, {"cust_id": 2, "amt": 20.0}],
            [{"cust_id": 3, "amt": 30.0}, {"cust_id": 1, "amt": 40.0}],
        ],
    )
    stream = (
        spark.readStream.schema("cust_id long, amt double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    dim = eio.jdbc_read(spark, url, table="cust", properties=props)
    out = sjoins.enrich_stream_static(stream, dim, ["cust_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_jdbc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = {(r["cust_id"], r["amt"], r["name"]) for r in spark.table("ssj_jdbc").collect()}
    assert got == {
        (1, 10.0, "acme"), (2, 20.0, "globex"), (3, 30.0, "initech"), (1, 40.0, "acme")
    }
    plan = q._jsq.explainInternal(False)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_interval_join_state_survives_checkpoint_restart(spark, tmp_path):
    """R5 exactly-once-ish for stream-stream join state: an impression
    consumed in run 1 must be matchable by a click that arrives only
    AFTER a stop/restart on the same checkpoint — the buffered left
    state rides the state store across restarts, and the pair emits
    exactly once (run 2 must not re-deliver anything from run 1)."""
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    t0 = 1_700_000_000
    _write_waves(lsrc, [[{"key": "a", "ts_e": t0 + 0, "l_id": 1}]])
    os.makedirs(rsrc)

    def _run():
        left = (
            spark.readStream.schema("key string, ts_e double, l_id long")
            .option("maxFilesPerTrigger", 1)
            .json(lsrc)
            .select("key", "l_id", F.col("ts_e").cast("timestamp").alias("l_ts"))
        )
        right = (
            spark.readStream.schema("key string, ts_e double, r_id long")
            .option("maxFilesPerTrigger", 1)
            .json(rsrc)
            .select("key", "r_id", F.col("ts_e").cast("timestamp").alias("r_ts"))
        )
        joined = sjoins.interval_join(
            left, right, keys=["key"], left_ts="l_ts", right_ts="r_ts",
            lower="0 seconds", upper="5 minutes",
        ).select("key", "l_id", "r_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 120)

    _run()  # run 1: impression buffered into state, no click yet
    assert spark.read.schema("key string, l_id long, r_id long").parquet(
        out_dir
    ).count() == 0
    # the matching click arrives between runs
    _write_waves(rsrc, [[{"key": "a", "ts_e": t0 + 60, "r_id": 9}]])
    _run()  # run 2: restored left state matches the new right row
    got = [
        (r["key"], r["l_id"], r["r_id"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    assert got == [("a", 1, 9)]  # exactly once — no duplicate delivery


def test_interval_join_negative_lower_bound(spark):
    """A negative lower bound makes the window bidirectional: a click
    up to 2 minutes BEFORE its impression matches too."""
    left = spark.createDataFrame(
        [("a", 300.0)], "key string, l_e double"
    ).select("key", F.col("l_e").cast("timestamp").alias("l_ts"))
    right = spark.createDataFrame(
        [("a", 200.0), ("a", 400.0), ("a", 100.0)], "key string, r_e double"
    ).select("key", F.col("r_e").cast("timestamp").alias("r_ts"))
    out = sjoins.interval_join(
        left, right, keys=["key"], left_ts="l_ts", right_ts="r_ts",
        lower="-2 minutes", upper="5 minutes",
    )
    got = {int(r["r_ts"].timestamp()) for r in out.collect()}
    # 200 (dt -100 >= -120) and 400 (dt 100) match; 100 (dt -200) does not
    assert got == {200, 400}


def test_interval_join_rejects_empty_window(spark):
    left = spark.readStream.format("rate").load().select(
        "value", F.col("timestamp").alias("l_ts")
    )
    right = spark.readStream.format("rate").load().select(
        "value", F.col("timestamp").alias("r_ts")
    )
    with pytest.raises(ValueError, match="empty interval"):
        sjoins.interval_join(
            left, right, keys=["value"], left_ts="l_ts", right_ts="r_ts",
            lower="10 minutes", upper="5 minutes",
        )
