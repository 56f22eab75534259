"""The reference's streaming job, re-expressed as Structured Streaming.

Maps the reference's run loop (``src/main.rs:111-141`` listen_blocks →
``handle_message`` → ``store_events``) onto one query per run:

    file/Kafka StreamerMessage stream (sources/streamer.py)
      → per event line: a valid event's routed columns or a reject row
        (explode×3, filter, parse, tag rejects, emit_info, white/blacklist)
      → run_batches: foreachBatch writes the routed records and the rejects

Semantics parity:

* restart from checkpoint (the reference's sync modes map to
  checkpoint/startingOffsets — ``src/configs.rs:101-127``). The stream
  starts through ``run_batches``, whose ``foreachBatch`` redelivers a
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
* rejected records (parse/validation failures) go to ``rejected_dir``
  instead of only a warn log — a strict superset of the reference's
  one-pass loop (``src/events.rs:313-344``). They come from the routed
  records' micro-batch, persisted and read once per output, and overwrite
  ``rejected_dir/batch_id=N``: one offset log for both outputs, so a
  replayed batch rewrites both.
* the reference's ``concurrency`` bound maps to the sources'
  ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` pacing
  (``src/configs.rs:79-81``, ``sources/streamer.py``).

This parity job is the package's only stream: every query starts through
``run_batches`` over a source from ``sources/streamer.py``
(``tests/test_streaming.py::test_one_stream_runner`` gates both).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from near_event_streams_spark.config import NesConfig
from near_event_streams_spark.operators.extract import (
    explode_to_logs,
    parse_events,
    tag_rejects,
    with_emit_info,
)
from near_event_streams_spark.operators.routing import (
    FAN_OUT,
    contract_filter,
    event_columns,
    ordered_for_sink,
)

_REJECTED_COLUMNS = (
    "block_height", "shard_id", "receipt_id", "contract_account_id", "log",
    "reject_reason",
)


def _event_lines(messages: DataFrame, config: NesConfig) -> DataFrame:
    """The stream plan: one row per event line, holding either a valid
    event's routed columns (``reject_reason`` null) or its reject row.

    The whitelist and blacklist drop valid events only."""
    logs = explode_to_logs(messages)
    lines = with_emit_info(tag_rejects(parse_events(logs)))
    keep = contract_filter(
        config.whitelist_contract_ids, config.blacklist_contract_ids
    )
    if keep:
        lines = lines.filter(f"reject_reason IS NOT NULL OR ({keep})")
    return lines.selectExpr(
        *event_columns(config.topic_prefix, config.near_events_all_topic),
        *_REJECTED_COLUMNS,
    )


def _routed(lines: DataFrame) -> DataFrame:
    return lines.filter("reject_reason IS NULL").selectExpr(*FAN_OUT)


def _rejected(lines: DataFrame) -> DataFrame:
    rejects = lines.filter("reject_reason IS NOT NULL")
    return rejects.selectExpr(*_REJECTED_COLUMNS)


def build_routed_stream(
    messages: DataFrame, config: NesConfig
) -> tuple[DataFrame, DataFrame]:
    """(routed (topic,key,value,block_height) frame, rejected frame): the
    two views of the stream plan the starters run.

    Works identically on static and streaming inputs — every op is narrow.
    """
    lines = _event_lines(messages, config)
    return _routed(lines), _rejected(lines)


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


def _start(
    messages: DataFrame,
    config: NesConfig,
    checkpoint_dir: str,
    write_routed: Callable[[DataFrame, int], None],
    rejected_dir: str | None,
    available_now: bool,
) -> StreamingQuery:
    """One query per run. With a ``rejected_dir`` the batch is persisted,
    so the source is read once for both outputs."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if rejected_dir is None:
            write_routed(_routed(batch), batch_id)
            return
        batch.persist()
        try:
            write_routed(_routed(batch), batch_id)
            _rejected(batch).write.mode("overwrite").parquet(
                f"{rejected_dir}/batch_id={batch_id}"
            )
        finally:
            batch.unpersist()

    return run_batches(
        _event_lines(messages, config), checkpoint_dir, _sink, available_now
    )


def start_to_parquet(
    messages: DataFrame,
    config: NesConfig,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    rejected_dir: str | None = None,
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
    with ``sinks.parquet_sink`` if batches are tiny). Rejects go to
    ``rejected_dir`` when one is given, never under ``out_dir``.
    """

    def _write(routed: DataFrame, batch_id: int) -> None:
        (
            routed.sortWithinPartitions("key", "block_height")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return _start(
        messages, config, checkpoint_dir, _write, rejected_dir, available_now
    )


def start_to_kafka(
    messages: DataFrame,
    config: NesConfig,
    checkpoint_dir: str,
    bootstrap_servers: str,
    rejected_dir: str | None = None,
) -> StreamingQuery:
    """Run the pipeline into Kafka with dynamic topic routing.

    One sink, ``topic`` column per record. Rejects, when ``rejected_dir``
    is given, go to parquet on the same continuous trigger. Requires the
    spark-sql-kafka package on the cluster.
    """

    def _write(routed: DataFrame, batch_id: int) -> None:
        (
            ordered_for_sink(routed)
            .select("topic", "key", "value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            # per-key order preservation at the producer
            .option("kafka.max.in.flight.requests.per.connection", "1")
            .save()
        )

    return _start(
        messages, config, checkpoint_dir, _write, rejected_dir, False
    )
