"""CLI — parity with the reference's clap surface (``src/configs.rs``).

Reference shape (``configs.rs:13-31``): global ``--home-dir``/``--debug``,
subcommands ``run`` (``RunArgs``, ``configs.rs:71-82``: sync-mode
sub-subcommand, ``--stream-while-syncing``, ``--concurrency``) and
``init`` (``configs.rs:33-70``: writes configs into the home dir).

Spark mapping:

* ``run`` builds the Structured Streaming job over a StreamerMessage
  source — a JSONL block directory (``--source-dir``, the relay/fixture
  form) or Kafka (when the loaded ``nes.toml`` has a ``[kafka]`` table
  and ``--source kafka``) — and writes routed records to a parquet dir
  or Kafka. Parse and validation rejects go to ``{home}/rejected``
  from the same query, micro-batch and checkpoint.
* sync modes (``configs.rs:101-117``):
  - ``sync-from-interruption`` → reuse ``{home}/checkpoint`` (restart
    continues from the last committed micro-batch);
  - ``sync-from-latest``      → Kafka ``startingOffsets=latest``; for a
    file source it only switches to ``{home}/checkpoint-latest``: the
    first run replays the whole directory, and a later run resumes that
    checkpoint rather than starting at the newest file;
  - ``sync-from-block --height H`` → height filter on the stream (works
    for both sources; Kafka could additionally seek by timestamp).
* ``--concurrency N`` → micro-batch size: ``maxFilesPerTrigger=N`` on the
  file source, ``maxOffsetsPerTrigger=1000*N`` on Kafka. It does not bound
  in-flight blocks the way the reference's block-handler concurrency
  does (``configs.rs:79-81``).
* ``--stream-while-syncing`` is accepted for surface parity; there is no
  embedded node to sync, so it only logs.
* ``init`` writes a commented ``nes.toml`` (mirrors ``nes.toml.sample``)
  into the home dir; refuses to overwrite.
"""

from __future__ import annotations

import argparse
import os
import sys

SAMPLE_TOML = """\
near_events_all_topic = "near_events_all"
topic_prefix = "near_events"
whitelist_contract_ids = []
blacklist_contract_ids = []
stats_enabled = true

[kafka]
# "bootstrap.servers" = "localhost:9092"
# "session.timeout.ms" = "45000"
"""


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="near_event_streams_spark",
        description="PySpark re-implementation of near-event-streams",
    )
    p.add_argument(
        "--home-dir",
        default=os.path.expanduser("~/.near"),
        help="config dir holding nes.toml (default ~/.near)",
    )
    p.add_argument("--debug", action="store_true", help="verbose Spark logs")
    sub = p.add_subparsers(dest="subcmd", required=True)

    run = sub.add_parser("run", help="start the streaming pipeline")
    run.add_argument("--source", choices=["file", "kafka"], default="file")
    run.add_argument(
        "--source-dir", help="JSONL StreamerMessage dir (file source)"
    )
    run.add_argument(
        "--sink", choices=["parquet", "kafka"], default="parquet"
    )
    run.add_argument("--out-dir", help="parquet sink output dir")
    run.add_argument("--stream-while-syncing", action="store_true")
    run.add_argument(
        "--concurrency",
        type=int,
        default=1,
        metavar="N",
        help="micro-batch size: N files per batch on the file source, "
        "1000*N offsets on Kafka (not an in-flight block bound)",
    )
    run.add_argument(
        "--timeout",
        type=float,
        default=None,
        help="awaitTermination timeout in seconds (default: forever)",
    )
    sync = run.add_subparsers(dest="sync_mode", required=True)
    sync.add_parser("sync-from-interruption")
    sync.add_parser("sync-from-latest")
    blk = sync.add_parser("sync-from-block")
    blk.add_argument("--height", type=int, required=True)

    sub.add_parser("init", help="write a sample nes.toml into --home-dir")
    return p


def cmd_init(args: argparse.Namespace) -> int:
    os.makedirs(args.home_dir, exist_ok=True)
    path = os.path.join(args.home_dir, "nes.toml")
    if os.path.exists(path):
        print(f"refusing to overwrite existing {path}", file=sys.stderr)
        return 1
    with open(path, "w") as f:
        f.write(SAMPLE_TOML)
    print(f"wrote {path}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from near_event_streams_spark.config import NesConfig
    from near_event_streams_spark.session import get_spark
    from near_event_streams_spark.sources import streamer
    from near_event_streams_spark.streaming import job

    config = NesConfig.load(args.home_dir)
    spark = get_spark(app_name="nes-run")
    spark.sparkContext.setLogLevel("DEBUG" if args.debug else "WARN")
    if args.stream_while_syncing:
        print("stream-while-syncing: no embedded node; streaming directly")

    checkpoint = os.path.join(args.home_dir, "checkpoint")
    if args.sync_mode == "sync-from-latest" and args.source == "file":
        # fresh checkpoint: don't resume an old offset log
        checkpoint = os.path.join(args.home_dir, "checkpoint-latest")

    if args.source == "kafka":
        offsets = (
            "latest" if args.sync_mode == "sync-from-latest" else "earliest"
        )
        messages = streamer.stream_messages_kafka(
            spark,
            config.kafka.get("bootstrap.servers", "localhost:9092"),
            config.topic_prefix + ".blocks",
            starting_offsets=offsets,
            max_offsets_per_trigger=args.concurrency * 1000,
        )
    else:
        if not args.source_dir:
            print("--source-dir required for the file source", file=sys.stderr)
            return 2
        messages = streamer.stream_messages_json(
            spark, args.source_dir, max_files_per_trigger=args.concurrency
        )

    if args.sync_mode == "sync-from-block":
        messages = messages.filter(
            F.col("block.header.height") >= args.height
        )

    rejected_dir = os.path.join(args.home_dir, "rejected")
    if args.sink == "kafka":
        query = job.start_to_kafka(
            messages,
            config,
            checkpoint_dir=checkpoint,
            bootstrap_servers=config.kafka.get(
                "bootstrap.servers", "localhost:9092"
            ),
            rejected_dir=rejected_dir,
        )
    else:
        if not args.out_dir:
            print("--out-dir required for the parquet sink", file=sys.stderr)
            return 2
        query = job.start_to_parquet(
            messages,
            config,
            args.out_dir,
            checkpoint,
            rejected_dir=rejected_dir,
        )
    try:
        query.awaitTermination(args.timeout)
    finally:
        query.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.subcmd == "init":
        return cmd_init(args)
    return cmd_run(args)
