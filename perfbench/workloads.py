"""The workloads. Each returns a :class:`Result` holding the end-to-end
metrics, the per-layer metrics (traced runs only), the attempted/failed
operation counts and context for the record."""

from __future__ import annotations

import bisect
import json
import math
import os
import random
import threading
import time
from dataclasses import dataclass, field

from perfbench.corpus import FIRST_HEIGHT, Expected
from perfbench.gen import MIX
from perfbench.harness import (
    Session,
    cpu_times,
    fresh_dir,
    granted_share,
    run_gen,
    start_gen,
)
from perfbench.stats import due_latencies, median, percentile
from perfbench.trace import (
    BatchListener,
    Tracer,
    batch_metrics,
    event_log_shuffle_bytes,
    layer_self_times,
)

#: Set-ups per run; ``setup_s`` is their median. The first launches the JVM.
SETUPS = 3
CATCHUP_FILES, CATCHUP_BLOCKS_PER_FILE = 20, 100
#: A catch-up set-up in a running JVM drains the corpus's first 6 files
#: (600 blocks). The cold JVM's set-up drains the whole corpus this many
#: times instead: with less, the window's drains were still getting faster
#: as the JIT compiler caught up, by an amount that varied per run.
CATCHUP_WARM_GLOB = "blocks-0000[0-5].json"
CATCHUP_COLD_DRAINS = 2
#: 10 blocks/s as a 2-block file every 0.2 s. Latency is taken once per
#: file, so a 20 s window holds the 100 samples a supported p90 needs.
LIVE_PERIOD_S, LIVE_BLOCKS_PER_FILE, LIVE_WARM_FILES = 0.2, 2, 20


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    context: dict = field(default_factory=dict)
    #: raw samples, kept in the run's record file only
    samples: dict = field(default_factory=dict)


@dataclass
class Run:
    """What every workload gets: seed, window length, tracing switch."""

    seed: int
    seconds: int
    trace: bool
    tracer: Tracer = field(default_factory=Tracer)


def _set_up(run: Run, sess: Session, listener, warm, res: Result) -> float:
    """Start a session and run ``warm(spark, k)`` on it, :data:`SETUPS`
    times; returns the median time of one set-up, on granted CPU time."""
    times, shares = [], []
    for k in range(SETUPS):
        cpu0 = cpu_times()
        with run.tracer.span("setup", index=k) as sp:
            spark = sess.start()
            if listener:
                spark.streams.addListener(listener)
            warm(spark, k)
        times.append(sp["end"] - sp["start"])
        shares.append(granted_share(cpu0, cpu_times()))
    res.context.update(setup_wall_s=times, setup_granted_share=shares)
    return median([t * g for t, g in zip(times, shares)])


# ---------------------------------------------------------------------------
# Stream plumbing shared by catchup_replay and live_tail
# ---------------------------------------------------------------------------


class CommitWatcher(threading.Thread):
    """Polls a streaming checkpoint and stamps the wall time at which each
    batch's commit file appears — the moment its output is visible. Each
    poll also reads the CPU time counters, for :meth:`granted`."""

    POLL_S = 0.01

    def __init__(self, checkpoint: str):
        super().__init__(daemon=True)
        self.commits_dir = os.path.join(checkpoint, "commits")
        self.sources_dir = os.path.join(checkpoint, "sources", "0")
        self.committed: dict[int, float] = {}
        self._files: dict[int, list[str]] = {}
        self._stop_event = threading.Event()
        self._cpu_at: list[float] = []
        self._cpu: list[list[int]] = []

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.poll()
            time.sleep(self.POLL_S)
        self.poll()

    def poll(self) -> None:
        self._cpu_at.append(time.time())
        self._cpu.append(cpu_times())
        try:
            names = os.listdir(self.commits_dir)
        except FileNotFoundError:
            return
        now = time.time()
        for n in names:
            if n.isdigit() and int(n) not in self.committed:
                self.committed[int(n)] = now

    def stop(self) -> None:
        self._stop_event.set()
        self.join()

    def granted(self, t0: float, t1: float) -> float:
        """:func:`granted_share` over the polls that enclose [t0, t1]."""
        i = max(bisect.bisect_right(self._cpu_at, t0) - 1, 0)
        j = min(bisect.bisect_left(self._cpu_at, t1), len(self._cpu) - 1)
        return granted_share(self._cpu[i], self._cpu[j])

    def batch_files(self, batch: int) -> list[str]:
        """Basenames of the input files the file source put in ``batch``
        (its log is compacted every few batches into ``N.compact``)."""
        for name in (str(batch), f"{batch}.compact"):
            path = os.path.join(self.sources_dir, name)
            if os.path.exists(path):
                with open(path) as f:
                    entries = [json.loads(x) for x in f.read().splitlines()[1:] if x]
                return [os.path.basename(e["path"]) for e in entries
                        if e["batchId"] == batch]
        return []

    def file_commit_times(self) -> dict[str, float]:
        out = {}
        for batch, t in list(self.committed.items()):  # the thread adds to it
            if batch not in self._files:  # a committed batch's files are final
                self._files[batch] = self.batch_files(batch)
            for name in self._files[batch]:
                out[name] = t
        return out

    def wait_files(self, names: list[str], timeout: float) -> bool:
        """Block until every named input file is in a committed batch."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if set(names) <= set(self.file_commit_times()):
                return True
            time.sleep(0.02)
        return False


def _stream(spark, src_dir: str, tag: str, available_now: bool):
    from near_event_streams_spark.config import NesConfig
    from near_event_streams_spark.sources.streamer import stream_messages_json
    from near_event_streams_spark.streaming.job import start_to_parquet

    out, ckpt = fresh_dir(tag, "out"), fresh_dir(tag, "ckpt")
    watcher = CommitWatcher(ckpt)
    watcher.start()
    query = start_to_parquet(stream_messages_json(spark, src_dir), NesConfig(),
                             out, ckpt, available_now=available_now)
    return query, watcher, out


def _bad_blocks(out: str, exp: Expected, heights, unseen) -> int:
    """Blocks that are wrong in the sink or whose file was never committed,
    each counted once."""
    from perfbench.check import check_sink, read_sink

    return len(set(check_sink(read_sink(out), exp, heights)) | set(unseen))


def _file_heights(heights: list[int], names: list[str], per_file: int) -> dict:
    return {n: heights[k * per_file:(k + 1) * per_file] for k, n in enumerate(names)}


def _sink_layout(out: str) -> dict[str, float]:
    import pyarrow.parquet as pq

    files = [os.path.join(dp, f) for dp, _, fs in os.walk(out) for f in fs
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
    return {
        "sink.bytes_written": sum(os.path.getsize(f) for f in files),
        "sink.files_written": len(files),
        "sink.max_partition_share": max(rows) / sum(rows) if sum(rows) else 0.0,
    }


def _latency_metrics(latencies_s: list[float]) -> dict[str, float]:
    return {
        "latency_p50_ms": percentile(latencies_s, 50) * 1000.0,
        "latency_p90_ms": percentile(latencies_s, 90) * 1000.0,
    }


def _stream_layers(run: Run, sess: Session, src_glob: str, query_id: str,
                   batches: list[dict], batch_blocks: int, blocks: int,
                   nbytes: int, sink_out: str, engine_s: float) -> dict[str, float]:
    """Per-layer metrics of a traced stream workload: ``batches`` carried
    ``batch_blocks`` blocks; ``src_glob`` holds ``blocks`` blocks in
    ``nbytes`` bytes, which the stream handled in ``engine_s`` seconds —
    the time the layer self times are set against."""
    from near_event_streams_spark.config import NesConfig
    from near_event_streams_spark.sources.streamer import read_messages_json

    layers = batch_metrics(batches, batch_blocks)
    layers["source.blocks"] = blocks
    layers["source.bytes"] = nbytes
    layers["sink.shuffle_bytes"] = event_log_shuffle_bytes(sess.event_log_dir, query_id)
    layers.update(_sink_layout(sink_out))
    messages = read_messages_json(sess.spark, src_glob)
    with run.tracer.span("layers"):
        layers.update(layer_self_times(sess.spark, messages, NesConfig(),
                                       fresh_dir("prefix-sink"), run.tracer))
    total = layers.pop("layers.total_s")
    layers["trace.unaccounted_share"] = (engine_s - total) / engine_s
    return layers


def _common_layers(sess: Session, gc_s: float, res: Result) -> dict[str, float]:
    """Session and JVM figures, plus the traced run's own throughput and
    latencies: their gap to an untraced run's is the tracing overhead."""
    return {
        "session.start_s": sess.starts[0],
        "jvm.gc_s": gc_s,
        "peak_rss_mb": res.context["peak_rss_mb"],
        "trace.throughput_per_s": res.e2e["throughput_per_s"],
        "trace.latency_p50_ms": res.context["latency_p50_ms"],
        "trace.latency_p90_ms": res.context["latency_p90_ms"],
    }


# ---------------------------------------------------------------------------
# catchup_replay
# ---------------------------------------------------------------------------


def catchup_replay(run: Run) -> Result:
    """Drain a backlog with ``availableNow``, repeatedly, for the window."""
    corpus = fresh_dir("corpus")
    gen = run_gen("corpus", "--seed", str(run.seed), "--out", corpus,
                  "--files", str(CATCHUP_FILES),
                  "--blocks-per-file", str(CATCHUP_BLOCKS_PER_FILE))
    exp = Expected.from_json(gen["expected"])
    heights = sorted(exp.per_block)
    file_heights = _file_heights(
        heights, [f"blocks-{k:05d}.json" for k in range(CATCHUP_FILES)],
        CATCHUP_BLOCKS_PER_FILE)
    sess = Session(fresh_dir("eventlog") if run.trace else None)
    listener = BatchListener() if run.trace else None
    res = Result()
    try:
        def warm(spark, k: int) -> None:
            if k == 0:
                for i in range(CATCHUP_COLD_DRAINS):
                    _drain(spark, corpus, f"cold{i}")
            else:
                _drain(spark, os.path.join(corpus, CATCHUP_WARM_GLOB), f"warm{k}")

        setup_s = _set_up(run, sess, listener, warm, res)
        spark = sess.spark
        gc0 = sess.gc_s()
        drains = []
        t_window = time.perf_counter()
        with run.tracer.span("measure"):
            # start another drain while more than half of one fits
            while len(drains) < 2 or (time.perf_counter() - t_window
                                      + drains[-1]["wall"] / 2 < run.seconds):
                with run.tracer.span("drain", index=len(drains)):
                    drains.append(_drain(spark, corpus, f"drain{len(drains)}"))
        gc_s = sess.gc_s() - gc0
        peak_rss = sess.peak_rss_mb()
        # one latency per drain: start until the whole backlog is visible
        latencies, bad = [], 0
        for d in drains:
            commits = d["file_commits"]
            unseen = [h for n, hs in file_heights.items() if n not in commits for h in hs]
            if len(unseen) < len(heights):
                latencies.append((max(commits.values()) - d["start"]) * d["granted"])
            bad += _bad_blocks(d["out"], exp, heights, unseen)
        res.attempted, res.failed = len(heights) * len(drains), bad
        walls = [d["wall"] * d["granted"] for d in drains]
        res.e2e = {
            "setup_s": setup_s,
            "throughput_per_s": exp.events_ok / median(walls),
        }
        res.context.update({
            "input": {"blocks": len(heights), "events_ok": exp.events_ok,
                      "logs": exp.logs_in, "bytes": gen["bytes"]},
            "session_starts_s": sess.starts, "drains": len(drains),
            "drain_wall_s": [d["wall"] for d in drains],
            "drain_granted_share": [d["granted"] for d in drains],
            "latency_samples": len(latencies), **_latency_metrics(latencies or [0.0]),
            "peak_rss_mb": peak_rss,
        })
        if run.trace:
            batches = [b for d in drains
                       for b in listener.wait(d["query_id"], d["last_batch"])]
            last = drains[-1]
            res.layers = _stream_layers(
                run, sess, corpus, last["query_id"], batches,
                len(heights) * len(drains), len(heights), gen["bytes"],
                last["out"], median(walls))
            res.layers.update(_common_layers(sess, gc_s, res))
    finally:
        sess.stop()
    return res


def _drain(spark, src: str, tag: str) -> dict:
    cpu0 = cpu_times()
    start = time.time()
    t0 = time.perf_counter()
    query, watcher, out = _stream(spark, src, tag, available_now=True)
    query.awaitTermination()
    wall = time.perf_counter() - t0
    granted = granted_share(cpu0, cpu_times())
    watcher.stop()
    return {"start": start, "wall": wall, "granted": granted, "out": out,
            "query_id": str(query.id),
            "last_batch": max(watcher.committed, default=0),
            "file_commits": watcher.file_commit_times()}


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------


def live_tail(run: Run) -> Result:
    """Open-loop producer at a fixed block rate against a running stream."""
    n_warm = SETUPS * LIVE_WARM_FILES
    staged = fresh_dir("live-staged")
    run_gen("corpus", "--seed", str(run.seed + 7919), "--out", staged,
            "--files", str(n_warm), "--blocks-per-file", str(LIVE_BLOCKS_PER_FILE),
            "--first-height", str(FIRST_HEIGHT - n_warm * LIVE_BLOCKS_PER_FILE))
    n_files = math.ceil(run.seconds / LIVE_PERIOD_S)
    sess = Session(fresh_dir("eventlog") if run.trace else None)
    listener = BatchListener() if run.trace else None
    res = Result()
    gen_proc = None
    stream: dict = {}

    def warm(spark, k: int) -> None:
        # a fresh stream per set-up, fed warm files at the live rate; the
        # last one stays up and takes the measured traffic
        watch = fresh_dir(f"live-in{k}")
        query, watcher, out = _stream(spark, watch, f"live{k}", available_now=False)
        names = [f"warm-{k}-{i}.json" for i in range(LIVE_WARM_FILES)]
        for i, name in enumerate(names):
            src = os.path.join(staged, f"blocks-{k * LIVE_WARM_FILES + i:05d}.json")
            os.rename(src, os.path.join(watch, name))
            time.sleep(LIVE_PERIOD_S)
        if not watcher.wait_files(names, 120):
            raise RuntimeError("warm-up files were never committed")
        if k < SETUPS - 1:
            query.stop()
            watcher.stop()
        else:
            stream.update(query=query, watcher=watcher, out=out, watch=watch)

    try:
        setup_s = _set_up(run, sess, listener, warm, res)
        query, watcher, out, watch = (stream[k] for k in ("query", "watcher", "out", "watch"))
        gc0 = sess.gc_s()
        warm_last = max(watcher.committed)
        start = time.time() + 0.3
        with run.tracer.span("measure"):
            gen_proc, expect_path = start_gen(
                "live", "--seed", str(run.seed), "--out", watch,
                "--start", repr(start), "--period", str(LIVE_PERIOD_S),
                "--files", str(n_files), "--blocks-per-file", str(LIVE_BLOCKS_PER_FILE))
            gen_proc.wait(timeout=run.seconds + 60)
            names = [f"live-{k:05d}.json" for k in range(n_files)]
            drained = watcher.wait_files(names, 60)
        gc_s = sess.gc_s() - gc0
        peak_rss = sess.peak_rss_mb()
        query.stop()
        watcher.stop()
        with open(expect_path) as f:
            gen = json.load(f)
        os.remove(expect_path)
        exp = Expected.from_json(gen["expected"])
        commits = {n: t for n, t in watcher.file_commit_times().items()
                   if n.startswith("live-")}
        due = {name: start + k * LIVE_PERIOD_S for k, name in enumerate(names)}
        latencies, missing = due_latencies(due, commits)
        res.samples["latency_s_by_file"] = [commits.get(n, 0.0) - due[n] for n in names]
        # each file's latency on the CPU time granted while it was pending
        granted = [watcher.granted(due[n], commits[n]) for n in names if n in commits]
        latencies = [x * g for x, g in zip(latencies, granted)]
        heights = sorted(exp.per_block)
        file_heights = _file_heights(heights, names, LIVE_BLOCKS_PER_FILE)
        unseen = [h for n in missing for h in file_heights[n]]
        res.attempted = len(heights)
        res.failed = _bad_blocks(out, exp, heights, unseen)
        res.e2e = {
            "setup_s": setup_s,
            # valid events made visible per second of the window: the
            # offered rate while the stream keeps up, lower once it lags
            "throughput_per_s": exp.events_ok * len(latencies) / n_files
            / (max(commits.values()) - start) if commits else 0.0,
        }
        lateness = gen["lateness_s"]
        res.context.update({
            "rate_blocks_per_s": LIVE_BLOCKS_PER_FILE / LIVE_PERIOD_S,
            "files": n_files, "blocks": len(heights), "drained": drained,
            "session_starts_s": sess.starts, "latency_granted_share_p50": median(granted or [1.0]),
            "latency_samples": len(latencies), **_latency_metrics(latencies or [0.0]),
            "peak_rss_mb": peak_rss,
            "generator_late_ms": {"p50": percentile(lateness, 50) * 1000,
                                  "max": max(lateness) * 1000},
        })
        if run.trace:
            qid = str(query.id)
            batches = [b for b in listener.wait(qid, max(watcher.committed))
                       if b["batch"] > warm_last]
            engine_s = sum(b["ms"].get("triggerExecution", 0) for b in batches) / 1000.0
            nbytes = sum(os.path.getsize(os.path.join(watch, n)) for n in names)
            res.layers = _stream_layers(
                run, sess, os.path.join(watch, "live-*.json"), qid, batches,
                len(heights), len(heights), nbytes, out, engine_s)
            res.layers.update(_common_layers(sess, gc_s, res))
            _mix_layers(run, sess, res)
    finally:
        if gen_proc is not None and gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        sess.stop()
    return res


# ---------------------------------------------------------------------------
# The analytics query mix (plans.* layer), timed in traced live_tail runs
# ---------------------------------------------------------------------------


def _mix_layers(run: Run, sess: Session, res: Result) -> None:
    """Run the registered query mix twice, in seeded order, on seeded
    tables; each query's time in the second pass is its layer metric.
    Every query run is an operation: errors and wrong results count as
    failed."""
    import __spark_entry__
    from near_event_streams_spark.plans import llm_ops
    from perfbench.check import checksum

    tables = fresh_dir("tables")
    gen = run_gen("tables", "--seed", str(run.seed), "--out", tables)
    registry = __spark_entry__.queries()
    fns = {name: registry.get(name) for name in MIX}
    fns["dedup_minhash_lsh_pairs"] = llm_ops.dedup_minhash_lsh_pairs
    pairs = sorted(tuple(p) for p in gen["pairs"])
    rng = random.Random(run.seed)

    def correct(name: str, table) -> bool:
        if name in gen["expected"]:
            want = gen["expected"][name]
            return checksum(table) == (want["rows"], want["checksum"])
        got = sorted(zip(table.column("a_doc_id").to_pylist(),
                         table.column("b_doc_id").to_pylist()))
        return got == pairs and set(table.column("jaccard").to_pylist()) <= {1.0}

    times: dict[str, float] = {}
    failures: list[str] = []
    for k in range(2):
        for name in rng.sample(MIX, len(MIX)):
            res.attempted += 1
            with run.tracer.span(f"query.{name}", index=k) as sp:
                try:
                    table = fns[name](sess.spark, tables).toArrow()
                except Exception as exc:  # a failing query is a failed op
                    failures.append(f"{name}: {exc!r}"[:300])
                    continue
            times[name] = sp["end"] - sp["start"]
            if not correct(name, table):
                failures.append(f"{name}: wrong result")
    res.failed += len(failures)
    res.layers.update({f"query.{n}_s": times.get(n, 0.0) for n in MIX})
    res.context["mix_failures"] = failures[:10]


WORKLOADS = {
    "catchup_replay": catchup_replay,
    "live_tail": live_tail,
}
