"""Streaming-mode throughput bench for the PARITY layer.

The reference is a streaming ETL: its own stats task logs blocks/s
every 10 s (``src/stats.rs:27-69``), and BASELINE.md's "implied parity
throughput" row says the bar is sustaining ≥ NEAR block production
(~1 block/s) with catch-up speed as the real test. Every batch number
in BENCH_r*.json measures the ANALYTICS surface; this module measures
the parity pipeline the way the reference itself would be measured —
as a running micro-batch stream:

* corpus: the sf events table re-encoded as StreamerMessage JSON
  blocks (``sources/streamer.events_to_streamer_messages`` — 50
  events per block, 40 files so ``maxFilesPerTrigger`` paces it),
* catch-up run: ``trigger(availableNow)``, no file pacing → the whole
  corpus in as few batches as the source allows — the "how fast can
  it replay the chain" number,
* paced run: 2 files per trigger → 20 micro-batches → steady-state
  per-batch latency at a realistic chase cadence,
* latency metrics from ``BlockStatsListener.progress`` (the same
  listener that renders the reference's stat line).

Throughput is computed from the KNOWN corpus size over measured wall,
not from ``numInputRows``: the routed plan is a self-union (all-topic
+ per-type topics), so the file source is scanned once per union
branch and Spark's per-batch input-row counter reports ~2× the true
block count (verified against exact sink row counts: 100k events →
200k routed rows). Batch-drain completion is detected by a zero-row
progress event, which the file source emits once the listing is
exhausted.

Standalone: ``python bench_streaming.py`` prints one JSON line.
``bench.py`` embeds the same dict under its ``"streaming"`` key.
"""

from __future__ import annotations

import json
import os
import shutil
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVENTS_PER_BLOCK = 50
N_FILES = 40


def _corpus_dir(sf_dir: str) -> str:
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(REPO, ".stream_corpus", tag)


def ensure_corpus(spark, sf_dir: str) -> tuple[str, int]:
    """Build (once) and return (corpus_dir, n_blocks)."""
    from near_event_streams_spark.sources.streamer import (
        events_to_streamer_messages,
        read_messages_json,
    )

    d = _corpus_dir(sf_dir)
    if os.path.isdir(d) and any(
        f.endswith(".json") for f in os.listdir(d)
    ):
        return d, read_messages_json(spark, d).count()
    n = events_to_streamer_messages(
        spark, sf_dir, d, EVENTS_PER_BLOCK, N_FILES
    )
    return d, n


def _percentile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def run(spark, sf_dir: str = SF_DIR) -> dict:
    from near_event_streams_spark.config import NesConfig
    from near_event_streams_spark.sources.streamer import (
        stream_messages_json,
    )
    from near_event_streams_spark.streaming.job import start_to_parquet
    from near_event_streams_spark.streaming.stats import BlockStatsListener

    corpus, n_blocks = ensure_corpus(spark, sf_dir)
    cfg = NesConfig(
        topic_prefix="app_events", near_events_all_topic="app_events_all"
    )
    scratch = os.path.join(REPO, ".stream_corpus", "_run")

    def _one_run(available_now: bool, max_files: int | None, label: str):
        out = os.path.join(scratch, label, "out")
        ckpt = os.path.join(scratch, label, "ckpt")
        shutil.rmtree(os.path.join(scratch, label), ignore_errors=True)
        listener = BlockStatsListener(emit=lambda s: None)
        spark.streams.addListener(listener)
        try:
            msgs = stream_messages_json(
                spark, corpus, max_files_per_trigger=max_files
            )
            t0 = time.perf_counter()
            q = start_to_parquet(
                msgs, cfg, out, ckpt, available_now=available_now
            )
            if available_now:
                q.awaitTermination()
                wall = time.perf_counter() - t0
                # listener events are delivered asynchronously — give
                # the bus a moment (outside the timed region) so the
                # per-batch latency percentiles aren't empty
                deadline = time.time() + 5
                while time.time() < deadline and not any(
                    p["num_input_rows"] > 0 for p in listener.progress
                ):
                    time.sleep(0.1)
            else:
                # continuous trigger: drained once every expected batch
                # reported, or the source went idle (Spark >= 3.4 raises
                # QueryIdleEvent instead of zero-row progress) after at
                # least one non-empty batch
                expected = -(-N_FILES // (max_files or N_FILES))
                deadline = time.time() + 300
                while time.time() < deadline:
                    nonempty_n = sum(
                        1
                        for p in listener.progress
                        if p["num_input_rows"] > 0
                    )
                    if nonempty_n >= expected or (
                        nonempty_n > 0 and listener.idle_events > 0
                    ):
                        break
                    time.sleep(0.25)
                q.stop()
                q.awaitTermination()
                wall = time.perf_counter() - t0
        finally:
            spark.streams.removeListener(listener)
        import glob

        sink_rows = (
            spark.read.parquet(out).count()
            if glob.glob(os.path.join(out, "batch_id=*", "*.parquet"))
            else 0
        )
        nonempty = [
            p for p in listener.progress if p["num_input_rows"] > 0
        ]
        durs = [
            p["trigger_ms"]
            for p in nonempty
            if p["trigger_ms"] is not None
        ]
        return {
            "blocks": n_blocks,
            "events": n_blocks * EVENTS_PER_BLOCK,
            "routed_sink_rows": sink_rows,
            "batches": len(nonempty),
            "wall_sec": round(wall, 3),
            "blocks_per_sec": round(n_blocks / wall, 1),
            "events_per_sec": round(
                n_blocks * EVENTS_PER_BLOCK / wall, 1
            ),
            "batch_p50_ms": _percentile(durs, 0.5),
            "batch_p95_ms": _percentile(durs, 0.95),
        }

    catchup = _one_run(True, max_files=None, label="catchup")
    paced = _one_run(False, max_files=2, label="paced")
    return {
        "corpus": {
            "sf_dir": sf_dir,
            "blocks": n_blocks,
            "events_per_block": EVENTS_PER_BLOCK,
            "files": N_FILES,
        },
        # full-corpus replay: availableNow, unpaced — max throughput
        "catchup": catchup,
        # 2 files/trigger → 20 micro-batches — steady chase cadence
        "paced": paced,
        # the reference's own bar (BASELINE.md "implied parity
        # throughput"): sustain >= ~1 block/s mainnet production
        "reference_implied_blocks_per_sec": 1.0,
        "vs_reference": round(catchup["blocks_per_sec"] / 1.0, 1),
    }


def main() -> None:
    from near_event_streams_spark.session import get_spark

    spark = get_spark(app_name="nes-bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    report = run(spark, SF_DIR)
    print(json.dumps({"metric": "parity_streaming_throughput", **report}))
    spark.stop()


if __name__ == "__main__":
    main()
