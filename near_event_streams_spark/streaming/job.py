"""The reference's streaming job, re-expressed as Structured Streaming.

Maps the reference's run loop (``src/main.rs:111-141`` listen_blocks →
``handle_message`` → ``store_events``) onto:

    file/Kafka StreamerMessage stream (sources/streamer.py)
      → extract_events (explode×3, filter, parse, validate, emit_info)
      → whitelist/blacklist
      → routed_records (2-topic fan-out: one projection, one explode)
      → run_batches: foreachBatch per-target layout + sink write

Semantics parity:

* restart from checkpoint (the reference's sync modes map to
  checkpoint/startingOffsets — ``src/configs.rs:101-127``). The routed
  stream starts through ``run_batches``, whose ``foreachBatch`` redelivers a
  batch that crashed between its write and its commit. The Kafka sink is
  therefore at-least-once, like the reference's fire-and-await sends
  (``src/events.rs:89-97``); the parquet sink overwrites its own
  ``batch_id=N`` directory, so a replay rewrites identical data and the
  file output is effectively exactly-once.
* the batch layout is chosen per target, in ``foreachBatch`` where the
  batch is a static frame (streaming frames cannot sort). Per-contract
  order is a contract of the Kafka producer (``src/events.rs:119-193``),
  so ``start_to_kafka`` shuffles by key and sorts (``ordered_for_sink``);
  cross-contract order is unconstrained, matching the reference's
  concurrent group sends (``src/events.rs:127-142``). A parquet file needs
  only a layout, so ``start_to_parquet`` sorts each batch within its
  partitions by (key, block_height), with no exchange: no task takes a
  hot key's whole share.
* rejected records (parse/validation failures) go to a side sink instead
  of only a warn log — a strict superset of the reference's behavior
  (``src/events.rs:325-344``). ``start_rejected_sink`` runs through the
  same ``run_batches`` with the same ``batch_id=N`` overwrite, so both
  outputs are replay-safe in the same way.
* the reference's ``concurrency`` bound maps to the sources'
  ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` pacing
  (``src/configs.rs:79-81``, ``sources/streamer.py``).

This parity job is the package's only stream: every query starts through
``run_batches`` over a source from ``sources/streamer.py``
(``tests/test_streaming.py::test_one_stream_runner`` gates both).
``with_batch_observability`` attaches per-batch ``observe()`` metrics to
the event stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from near_event_streams_spark.config import NesConfig
from near_event_streams_spark.operators.extract import extract_events
from near_event_streams_spark.operators.routing import (
    apply_blacklist,
    apply_whitelist,
    ordered_for_sink,
    routed_records,
)


def build_routed_stream(
    messages: DataFrame, config: NesConfig
) -> tuple[DataFrame, DataFrame]:
    """(routed (topic,key,value,block_height) frame, rejected frame).

    Works identically on static and streaming inputs — every op is narrow.
    """
    events, rejected = extract_events(messages)
    events = apply_whitelist(events, config.whitelist_contract_ids)
    events = apply_blacklist(events, config.blacklist_contract_ids)
    routed = routed_records(
        events,
        topic_prefix=config.topic_prefix,
        all_topic=config.near_events_all_topic,
    )
    return routed, rejected


def run_batches(
    frame: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    available_now: bool = True,
) -> StreamingQuery:
    """The one stream runner: ``frame`` → ``foreachBatch(sink)``.

    ``update`` mode equals append on the stateless parity plans.
    ``available_now`` drains what is there and stops; otherwise the
    stream keeps running.
    """
    writer = (
        frame.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_to_parquet(
    messages: DataFrame,
    config: NesConfig,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the pipeline into an effectively-once parquet sink.

    Each micro-batch is sorted by (key, block_height) within its
    partitions, with no shuffle, so every file is in key order. It
    overwrites its own ``out_dir/batch_id=N`` partition, so a replayed
    batch (foreachBatch redelivery after a crash between write and commit)
    rewrites identical data instead of appending duplicates. Exactly-once
    needs this sink-side idempotence on top of the checkpointed source
    offsets. One partition dir per micro-batch: readers prune on their own
    columns, so the batch_id layer costs only directory fan-out (compact
    with ``sinks.parquet_sink`` if batches are tiny).
    """
    routed, _ = build_routed_stream(messages, config)

    def _write(batch: DataFrame, batch_id: int) -> None:
        (
            batch.sortWithinPartitions("key", "block_height")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return run_batches(routed, checkpoint_dir, _write, available_now)


def start_to_kafka(
    messages: DataFrame,
    config: NesConfig,
    checkpoint_dir: str,
    bootstrap_servers: str,
) -> StreamingQuery:
    """Run the pipeline into Kafka with dynamic topic routing.

    One sink, ``topic`` column per record — the fan-out is already done
    upstream. Requires the spark-sql-kafka package on the cluster.
    """
    routed, _ = build_routed_stream(messages, config)

    def _write(batch: DataFrame, batch_id: int) -> None:
        (
            ordered_for_sink(batch)
            .select("topic", "key", "value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            # per-key order preservation at the producer
            .option("kafka.max.in.flight.requests.per.connection", "1")
            .save()
        )

    return run_batches(routed, checkpoint_dir, _write, available_now=False)


def start_rejected_sink(
    messages: DataFrame,
    config: NesConfig,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Side stream of rejected rows (reason + raw log) — the warn-and-drop
    path made durable, with the same replay-safe ``out_dir/batch_id=N``
    overwrite as :func:`start_to_parquet`."""
    _, rejected = extract_events(messages)
    keep = rejected.select(
        "block_height",
        "shard_id",
        "receipt_id",
        "contract_account_id",
        "log",
        "reject_reason",
    )

    def _write(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return run_batches(keep, checkpoint_dir, _write, available_now)


def with_batch_observability(
    events: DataFrame, name: str = "nes_metrics"
) -> DataFrame:
    """Attach ``observe()`` metrics to the event stream: per-micro-batch
    row/contract/height aggregates computed inside the running plan (no
    second pass over the data) and surfaced through
    ``StreamingQueryListener.onQueryProgress`` as ``observedMetrics[name]``
    — the Spark-native form of the reference's per-batch stats logging
    (``src/stats.rs:24-58``)."""
    return events.observe(
        name,
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("emit_info.contract_account_id").alias(
            "n_contracts"
        ),
        F.max("emit_info.block_height").alias("max_height"),
    )
