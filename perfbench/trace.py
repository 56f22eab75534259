"""Tracing for the per-layer run: spans held in memory, a streaming
progress listener, Spark event-log readers, and layer self times taken by
materialising each layer prefix of the pipeline with a ``noop`` write.

Spans are recorded from the benchmark's side of each call into a layer;
nothing inside the program is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run": self.run_id,
                           **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch's progress (``durationMs`` breakdown,
    input rows) for the queries it sees."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._lock:
            self.progress.append({
                "query": str(p.id), "batch": p.batchId,
                "rows": p.numInputRows, "ts": p.timestamp,
                "ms": dict(p.durationMs or {}),
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def batches(self, query_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress
                    if p["query"] == query_id and p["rows"] > 0]

    def wait(self, query_id: str, last_batch: int) -> list[dict]:
        """Progress events arrive asynchronously: wait (up to 15 s) until the
        event of ``last_batch`` is in, then return the query's batches."""
        deadline = time.time() + 15.0
        while time.time() < deadline:
            with self._lock:
                if any(p["query"] == query_id and p["batch"] >= last_batch
                       for p in self.progress):
                    break
            time.sleep(0.05)
        return self.batches(query_id)


def batch_metrics(batches: list[dict], blocks: int) -> dict[str, float]:
    """Per-batch engine costs as medians, from listener progress."""
    from perfbench.stats import median

    def med(*keys: str) -> float:
        vals = [sum(b["ms"].get(k, 0) for k in keys) for b in batches]
        return median(vals) if vals else 0.0

    n = len(batches)
    rows = sum(b["rows"] for b in batches)
    return {
        "batch.count": n,
        "batch.blocks_per_batch": blocks / n if n else 0.0,
        "batch.trigger_ms": med("triggerExecution"),
        "batch.planning_ms": med("queryPlanning"),
        "batch.offsets_ms": med("latestOffset", "getBatch"),
        "batch.commit_ms": med("walCommit", "commitOffsets"),
        "batch.add_ms": med("addBatch"),
        "source.scans_per_batch": rows / blocks if blocks else 0.0,
    }


def event_log_shuffle_bytes(log_dir: str, query_id: str) -> int:
    """Shuffle bytes written by the jobs of one streaming query, read from
    the Spark event log (jobs carry the query id as a local property)."""
    stages: set[int] = set()
    total = 0
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    if props.get("sql.streaming.queryId") == query_id:
                        stages.update(ev.get("Stage IDs", []))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if ev.get("Stage ID") in stages:
                        m = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                        total += int(m.get("Shuffle Bytes Written", 0))
    return total


def layer_self_times(spark, messages, config, sink_dir: str,
                     tracer: Tracer) -> dict[str, float]:
    """Self time and counts of source, extract, routing and sink.

    Each prefix of the pipeline (source → +extract → +routing → +sink) is
    materialised on the static corpus; a layer's self time is its prefix
    time minus the previous prefix's (best of two runs). Counts are
    taken with ``observe`` on the same runs, so they cost no extra pass."""
    from near_event_streams_spark.operators.extract import (
        explode_to_logs,
        extract_events,
    )
    from near_event_streams_spark.operators.routing import ordered_for_sink
    from near_event_streams_spark.streaming.job import build_routed_stream

    def logs_counted():
        obs = Observation("logs")
        return explode_to_logs(messages).observe(obs, F.count(F.lit(1)).alias("n")), obs

    def events_counted():
        events, rejected = extract_events(messages)
        obs = Observation("events")
        return events.observe(obs, F.count(F.lit(1)).alias("n")), obs

    def routed_counted():
        routed, _ = build_routed_stream(messages, config)
        obs = Observation("routed")
        return routed.observe(obs, F.count(F.lit(1)).alias("n")), obs

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def sink(df):
        ordered_for_sink(df).write.mode("overwrite").parquet(sink_dir)

    prefixes = (
        ("source", lambda: (messages, None), noop),
        ("extract", events_counted, noop),
        ("routing", routed_counted, noop),
        ("sink", routed_counted, sink),
    )
    best: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(2):
        for name, build, action in prefixes:
            df, obs = build()
            with tracer.span(f"prefix.{name}") as sp:
                action(df)
            best[name] = min(best.get(name, float("inf")), sp["end"] - sp["start"])
            if obs is not None:
                counts[name] = int(obs.get["n"])
    df, obs = logs_counted()
    noop(df)
    counts["logs"] = int(obs.get["n"])
    reasons = {r["reject_reason"]: r["n"] for r in extract_events(messages)[1]
               .groupBy("reject_reason").agg(F.count(F.lit(1)).alias("n")).collect()}

    out = {"source.self_s": best["source"]}
    prev = best["source"]
    for name in ("extract", "routing", "sink"):
        out[f"{name}.self_s"] = max(0.0, best[name] - prev)
        prev = best[name]
    out["layers.total_s"] = best["sink"]
    ok = counts["extract"]
    out.update({
        "extract.logs_in": counts["logs"],
        "extract.events_ok": ok,
        "extract.rejected_parse": reasons.get("parse_error", 0),
        "extract.rejected_validation": reasons.get("validation_error", 0),
        "extract.useful_ratio": ok / counts["logs"] if counts["logs"] else 0.0,
        "routing.records_out": counts["routing"],
        "routing.records_per_event": counts["routing"] / ok if ok else 0.0,
    })
    return out
