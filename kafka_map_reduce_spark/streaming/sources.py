"""Streaming sources (Tier A).

- ``kafka_source``: the reference's consumer bring-up
  (/root/reference/src/lib.rs:49-85) as Spark's Kafka source. Partition
  assignment, rebalance, offset tracking (lib.rs:392-462, 944-994) are
  all owned by the source + checkpoint — none of the reference's actor
  machinery needs replicating.
- ``file_replay_stream``: replays a parquet table as an unbounded stream
  (the test harness's stand-in for a Kafka topic; one file per
  micro-batch via maxFilesPerTrigger).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from kafka_map_reduce_spark.session import configure
from kafka_map_reduce_spark.sources.tables import events_ts, load_table

KAFKA_RECORD_COLUMNS = [
    "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
]


def kafka_reader_options(
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 10000,
) -> dict[str, str]:
    """The exact option set a Kafka read is constructed with — factored
    out so the source contract (subscribe topics, consumer bring-up
    offsets, per-trigger admission cap) is unit-testable without a broker
    or the spark-sql-kafka connector on the classpath.

    Mirrors the reference's consumer bring-up (lib.rs:49-85: subscribe at
    lib.rs:72-74); ``maxOffsetsPerTrigger`` is the admission-control
    analogue of its bounded channels (lib.rs:254-256).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 10000,
) -> DataFrame:
    """Unbounded Kafka read (requires the spark-sql-kafka connector on the
    classpath; absent in the test container — the option contract is
    covered by unit tests via ``kafka_reader_options``)."""
    configure(spark)
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topics, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def file_replay_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    work_dir: str,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Replay a test table as a file stream (schema locked from the batch
    read; events' nano-ts normalization applied identically)."""
    configure(spark)
    batch = load_table(spark, sf_dir, table)
    src_dir = os.path.join(work_dir, f"{table}_stream_src")
    os.makedirs(src_dir, exist_ok=True)
    dst = os.path.join(src_dir, f"{table}.parquet")
    if not os.path.exists(dst):
        shutil.copy(os.path.join(sf_dir, f"{table}.parquet"), dst)
    raw_schema = spark.read.parquet(dst).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(src_dir)
    )
    return events_ts(stream) if table == "events" else stream
