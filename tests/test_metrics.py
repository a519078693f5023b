"""Meter tests — counters/ratio ride the plan via observe; threshold
alarm aborts (reference meter/monitor.go:23-60)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from electrician_spark.metrics import Meter
from electrician_spark.streaming.sinks import await_stream


def test_meter_counts_and_error_pct(spark):
    df = spark.createDataFrame(
        [(i, "error" if i % 4 == 0 else "ok") for i in range(100)], "id int, status string"
    )
    meter = Meter(error_cond=F.col("status") == "error")
    observed = meter.attach(df)
    observed.write.format("noop").mode("overwrite").save()
    r = meter.reading()
    assert r.processed == 100
    assert r.errors == 25
    assert r.error_pct == pytest.approx(25.0)


def test_meter_threshold_abort(spark):
    df = spark.createDataFrame([(1, "error"), (2, "ok")], "id int, status string")
    meter = Meter(error_cond=F.col("status") == "error")
    meter.attach(df).collect()
    with pytest.raises(RuntimeError, match="aborting"):
        meter.reading().check(10.0)
    meter2 = Meter(error_cond=F.col("status") == "never")
    meter2.attach(df).collect()
    meter2.reading().check(10.0)  # no error → no raise


def test_meter_listener_accumulates_progress(spark, tmp_path):
    import time as _time

    from electrician_spark.metrics import MeterListener

    src = str(tmp_path / "src")
    spark.range(200).write.parquet(src)
    listener = MeterListener()
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema("id long").parquet(src)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 60)
        # listener events are delivered asynchronously
        for _ in range(50):
            r = listener.readings.get(str(q.id))
            if r and r["terminated"]:
                break
            _time.sleep(0.2)
        r = listener.readings[str(q.id)]
        assert r["total_rows"] == 200
        assert r["batches"] >= 1
        assert r["terminated"] and r["exception"] is None
    finally:
        spark.streams.removeListener(listener)


def test_log_record_schema_round_trip(spark):
    from electrician_spark.metrics import LOG_RECORD_DDL, LOG_SCHEMA_ID, log_record

    recs = [
        log_record("info", "pipeline started", component="wire", event="start"),
        log_record("error", "boom", component="sink", error="io failure"),
    ]
    df = spark.createDataFrame([tuple(r.values()) for r in recs], LOG_RECORD_DDL)
    rows = df.collect()
    assert all(row.log_schema == LOG_SCHEMA_ID for row in rows)
    assert df.filter("level = 'error'").count() == 1
