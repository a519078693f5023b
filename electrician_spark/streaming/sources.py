"""Streaming sources (SURVEY §2.1 → readStream).

The reference's adapters map onto Spark's built-in streaming sources:

- S5 S3 tail (ListInterval polling, reader.go:199) → file stream:
  ``readStream.schema(s).parquet(dir)`` with ``maxFilesPerTrigger``
  as the poll window.
- S4 Kafka consumer → ``format("kafka")`` with startingOffsets
  earliest/latest/timestamp (types/kafka_adapter.go:95-97); commit
  modes are superseded by checkpointing (R5).
- S1 plug/generator → rate source for synthetic streams.
- S3/S7 HTTP/WebSocket pollers stay thin edge services writing to a
  staging dir / Kafka; the engine consumes the staging source. (No
  Spark-native analog; SURVEY S8.)

Kafka configs are expressed but network-gated: there is no broker in
the test environment, so tests cover option-building only.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a directory of files (reference S5 Serve() poll-tail).

    TIMESTAMP_NTZ columns are cast to TIMESTAMP on the way in: Spark
    rejects watermarks on NTZ event time, and parquet written with
    isAdjustedToUTC=false (what the fixtures and many lakehouse writers
    produce) infers NTZ. The NTZ→TZ cast is only instant-preserving
    when the session timezone is UTC, so a session already pinned to
    UTC passes through; any OTHER session timezone raises instead of
    being silently overwritten (a global conf mutation here would
    change timestamp parsing/window boundaries for every other query
    in the live session)."""
    from pyspark.sql.types import TimestampNTZType

    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"file_stream requires spark.sql.session.timeZone=UTC (got {tz!r}): "
            "the TIMESTAMP_NTZ→TIMESTAMP cast below is instant-preserving only "
            "under UTC. Set it session-wide before building streams."
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.format(fmt).load(path)
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def arrival_waves(spark: SparkSession, src_dir: str, waves: list[DataFrame]) -> DataFrame:
    """Replay ``waves`` as a file stream that reads one wave per
    micro-batch, in list order.

    Wave i is written to ``src_dir/w{i:04d}.json`` as NDJSON (each wave
    is collected to the driver: bounded fixture data only) with its
    mtime pinned to t0 + i seconds. The file source orders new files by
    mtime, so with ``maxFilesPerTrigger=1`` micro-batch i is wave i
    whatever the file system's timestamp resolution. The stream reads
    with the first wave's schema."""
    os.makedirs(src_dir, exist_ok=True)
    t0 = time.time() - len(waves)
    for i, wave in enumerate(waves):
        path = os.path.join(src_dir, f"w{i:04d}.json")
        wave.toPandas().to_json(path, orient="records", lines=True)
        os.utime(path, (t0 + i, t0 + i))
    return (
        spark.readStream.schema(waves[0].schema)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )


def kafka_source_options(
    topics: list[str],
    bootstrap_servers: str,
    start_at: str = "latest",
    start_timestamp_ms: int | None = None,
    max_offsets_per_trigger: int | None = None,
    group_id: str | None = None,
) -> dict[str, str]:
    """Build the Kafka source option map from the reference's reader
    config surface (types/kafka_adapter.go:87-116): topics[], StartAt
    earliest/latest/timestamp, poll window → maxOffsetsPerTrigger.
    Commit modes (auto/manual, commit policies) are intentionally NOT
    mapped: Spark checkpointing provides stronger, exactly-once-per-sink
    progress tracking (R5)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(topics),
    }
    if start_timestamp_ms is not None:
        # per-topic timestamp start (reference StartAt=timestamp)
        opts["startingOffsetsByTimestamp"] = json.dumps(
            {t: {"-1": start_timestamp_ms} for t in topics}
        )
    else:
        opts["startingOffsets"] = start_at
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if group_id is not None:
        opts["kafka.group.id"] = group_id
    return opts
