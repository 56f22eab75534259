"""StreamerMessage sources.

The reference consumes blocks from an embedded nearcore node over an mpsc
channel (``src/main.rs:44,112``). In the Spark re-expression the block
stream arrives as JSON — either files (fixtures / replay) or a Kafka topic
published by a thin relay. Both map onto the same explicit envelope schema
(never inferred — SURVEY §1.3).

Sync-mode parity (``src/configs.rs:101-127``):
  from-interruption → restart from ``checkpointLocation``
  from-latest       → ``startingOffsets="latest"`` on Kafka; on files, a
                      separate checkpoint only (see ``cli.py``)
  from-block-height → a ``block.header.height >= H`` filter that
                      ``cli.cmd_run`` puts on either source; no offset
                      seek
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from near_event_streams_spark.schemas import STREAMER_MESSAGE_SCHEMA


def read_messages_json(spark: SparkSession, path: str) -> DataFrame:
    """Batch: JSON-lines of StreamerMessage (fixtures, replay)."""
    return spark.read.schema(STREAMER_MESSAGE_SCHEMA).json(path)


def stream_messages_json(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming: file source over a drop directory of JSON-lines blocks."""
    reader = spark.readStream.schema(STREAMER_MESSAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def stream_messages_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming: Kafka topic carrying one StreamerMessage JSON per record.

    ``maxOffsetsPerTrigger`` is the pacing knob analogous to the reference's
    ``--concurrency`` bound on in-flight blocks (``src/configs.rs:79-81``).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    raw = reader.load()
    return raw.select(
        F.from_json(
            F.col("value").cast("string"), STREAMER_MESSAGE_SCHEMA
        ).alias("msg")
    ).select("msg.*")

