"""Throughput observability — parity with the reference's stats task.

The reference logs every 10 s: blocks/sec, last processed height, in-flight
count, and ETA to chain tip = (tip − last)/bps
(reference: ``src/stats.rs:23-72, 85-97``). Structured Streaming exposes
the same measurements through ``StreamingQueryListener`` /
``query.lastProgress`` — no custom bookkeeping threads needed.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger("nes.stats")


class BlockStatsListener(StreamingQueryListener):
    """Logs the reference's stat line per micro-batch progress event.

    ``tip_provider`` supplies the current chain-tip height (the reference
    fetches it from the node's client actor, ``src/stats.rs:74-83``); when
    provided, an ETA line matching ``stats.rs:54-69`` content is emitted.
    ``blocks_per_row`` converts row throughput back to block throughput
    (one StreamerMessage row = one block).
    """

    def __init__(
        self,
        tip_provider: Callable[[], int] | None = None,
        last_height_provider: Callable[[], int] | None = None,
        emit: Callable[[str], None] | None = None,
    ) -> None:
        self.tip_provider = tip_provider
        self.last_height_provider = last_height_provider
        self.emit = emit or log.info
        self.lines: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self.emit(f"stream started id={event.id}")

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        bps = p.inputRowsPerSecond or 0.0
        line = (
            f"Stats: {bps:.2f} bps, {p.numInputRows} blocks in batch "
            f"{p.batchId}"
        )
        if self.tip_provider and self.last_height_provider and bps > 0:
            behind = self.tip_provider() - self.last_height_provider()
            eta_s = behind / bps if behind > 0 else 0.0
            line += f", {behind} blocks behind tip, ETA {eta_s:.0f}s"
        self.lines.append(line)
        self.emit(line)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.emit(f"stream terminated id={event.id}")
