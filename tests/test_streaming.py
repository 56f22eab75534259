"""Structured Streaming parity tests: file-source pipeline end-to-end,
rejected side stream, stats listener, checkpoint restart
(sync-from-interruption), replay-safe sinks and compaction."""

import ast
import json
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from near_event_streams_spark.config import NesConfig
from near_event_streams_spark.sources.streamer import stream_messages_json
from near_event_streams_spark.streaming import job


def _stream_dirs(tmp_path, fixture_messages_path):
    src = tmp_path / "blocks"
    src.mkdir()
    shutil.copy(fixture_messages_path, src / "blocks.jsonl")
    return str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_stream_to_parquet_end_to_end(spark, fixture_messages_path, tmp_path):
    src, out, ckpt = _stream_dirs(tmp_path, fixture_messages_path)
    msgs = stream_messages_json(spark, src)
    q = job.start_to_parquet(msgs, NesConfig(), out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # 4 valid events x 2 topics
    assert got.count() == 8
    topics = {r["topic"] for r in got.select("topic").distinct().collect()}
    assert "near_events_all" in topics
    assert "near_events.nep171.nft_mint" in topics


def test_stream_restart_is_incremental(spark, fixture_messages_path, tmp_path):
    """Checkpoint restart = the reference's sync-from-interruption
    (configs.rs:101-117): a restarted query must not reprocess old files
    and must pick up new ones."""
    src, out, ckpt = _stream_dirs(tmp_path, fixture_messages_path)
    msgs = stream_messages_json(spark, src)
    job.start_to_parquet(msgs, NesConfig(), out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # add one new block file, restart from the same checkpoint
    extra = {
        "block": {"header": {"height": 200, "timestamp": 1}},
        "shards": [
            {
                "shard_id": 0,
                "receipt_execution_outcomes": [
                    {
                        "receipt": {"receipt_id": "rX", "receiver_id": "c.near"},
                        "execution_outcome": {
                            "outcome": {
                                "logs": [
                                    'EVENT_JSON:{"standard":"nep171",'
                                    '"version":"1.0.0","event":"nft_burn",'
                                    '"data":{"x":1}}'
                                ]
                            }
                        },
                    }
                ],
            }
        ],
    }
    with open(os.path.join(src, "more.jsonl"), "w") as f:
        f.write(json.dumps(extra) + "\n")
    msgs2 = stream_messages_json(spark, src)
    job.start_to_parquet(msgs2, NesConfig(), out, ckpt).awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == n1 + 2  # exactly the new event x 2 topics
    assert got.filter(F.col("topic") == "near_events.nep171.nft_burn").count() == 1


def test_rejected_side_stream(spark, fixture_messages_path, tmp_path):
    src, out, ckpt = _stream_dirs(tmp_path, fixture_messages_path)
    rejected_dir = str(tmp_path / "rejected")
    msgs = stream_messages_json(spark, src)
    q = job.start_to_parquet(
        msgs, NesConfig(), out, ckpt, rejected_dir=rejected_dir
    )
    q.awaitTermination(120)
    got = spark.read.parquet(rejected_dir)
    reasons = sorted(r["reject_reason"] for r in got.collect())
    assert reasons == ["parse_error", "validation_error"]


def test_whitelist_applies_in_stream(spark, fixture_messages_path, tmp_path):
    src, out, ckpt = _stream_dirs(tmp_path, fixture_messages_path)
    msgs = stream_messages_json(spark, src)
    cfg = NesConfig(whitelist_contract_ids=["nft.contract-a.near"])
    rejected_dir = str(tmp_path / "rejected")
    job.start_to_parquet(
        msgs, cfg, out, ckpt, rejected_dir=rejected_dir
    ).awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 4  # 2 events from contract-a x 2 topics
    assert {r["key"] for r in got.collect()} == {"nft.contract-a.near"}
    # the lists filter valid events only: every reject is still written
    assert spark.read.parquet(rejected_dir).count() == 2


def test_stats_listener_reports_throughput(
    spark, fixture_messages_path, tmp_path
):
    from near_event_streams_spark.streaming.stats import BlockStatsListener

    listener = BlockStatsListener(
        tip_provider=lambda: 1000,
        last_height_provider=lambda: 101,
        emit=lambda line: None,
    )
    spark.streams.addListener(listener)
    try:
        src, out, ckpt = _stream_dirs(tmp_path, fixture_messages_path)
        msgs = stream_messages_json(spark, src)
        q = job.start_to_parquet(msgs, NesConfig(), out, ckpt)
        q.awaitTermination(120)
        # listener events are async; wait briefly
        import time

        for _ in range(40):
            if listener.lines:
                break
            time.sleep(0.25)
        assert any("blocks in batch" in line for line in listener.lines)
    finally:
        spark.streams.removeListener(listener)


@pytest.mark.parametrize(
    "with_rejects",
    [
        pytest.param(False, id="start_to_parquet"),
        pytest.param(True, id="start_to_parquet_rejected_dir"),
    ],
)
def test_idempotent_sink_replay_safe(
    spark, fixture_messages_path, tmp_path, with_rejects
):
    """A crash after a micro-batch's write and before its commit (the
    at-least-once failure mode) replays that batch on restart; the
    per-batch partition overwrite must make the replay rewrite, not
    duplicate, its rows — effectively exactly-once end to end. With a
    ``rejected_dir`` both outputs of the one query replay together."""
    import os as _os
    import shutil as _shutil
    from collections import Counter

    src = tmp_path / "blocks"
    src.mkdir()
    for i in range(2):
        dst = src / f"blocks{i}.jsonl"
        _shutil.copy(fixture_messages_path, dst)
        # deterministic batch order: file-source batches sort by mtime
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rejected_dir = str(tmp_path / "rejected")
    outputs = {
        # 2 files x 4 valid events x 2 topics
        out: (["topic", "key", "value", "block_height"], 16),
    }
    if with_rejects:
        # 2 files x (1 parse + 1 validation reject)
        outputs[rejected_dir] = (
            ["block_height", "receipt_id", "log", "reject_reason"],
            4,
        )

    def run():
        job.start_to_parquet(
            stream_messages_json(spark, str(src), max_files_per_trigger=1),
            NesConfig(),
            out,
            ckpt,
            rejected_dir=rejected_dir if with_rejects else None,
        ).awaitTermination(180)

    def rows():
        return {
            path: Counter(
                tuple(r)
                for r in spark.read.parquet(path).select(*cols).collect()
            )
            for path, (cols, _) in outputs.items()
        }

    run()
    first = rows()
    for path, (_, n_rows) in outputs.items():
        assert sum(first[path].values()) == n_rows, path
    # without a rejected_dir the query writes nothing but the routed rows
    assert _os.path.exists(rejected_dir) == with_rejects

    # crash between batch 1's write and its commit: its offsets are
    # logged, its output is written, its commit marker (and checksum) lost
    for name in ("1", ".1.crc"):
        _os.remove(_os.path.join(ckpt, "commits", name))
    run()
    assert rows() == first  # batch 1 replayed without duplicates

    # checkpoint lost entirely: both batches replay over their own dirs
    _shutil.rmtree(ckpt)
    run()
    assert rows() == first


def test_sink_exchange_per_target(
    spark, fixture_messages_path, tmp_path, monkeypatch
):
    """Per-key order is a Kafka-producer contract: only the Kafka sink
    shuffles by key. The parquet sink sorts each batch within its
    partitions, with no exchange, so every file it writes is in
    (key, block_height) order. With a ``rejected_dir`` both writes of a
    batch read the persisted batch, not the source files."""
    import glob
    import time

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    src = tmp_path / "blocks"
    src.mkdir()
    for i in range(2):
        dst = src / f"blocks{i}.jsonl"
        shutil.copy(fixture_messages_path, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    plans = {"parquet": [], "kafka": []}

    def plan(writer):
        return writer._df._jdf.queryExecution().executedPlan().toString()

    parquet, save = DataFrameWriter.parquet, DataFrameWriter.save

    def parquet_recorded(self, path, *args, **kwargs):
        plans["parquet"].append((path, plan(self)))
        return parquet(self, path, *args, **kwargs)

    def save_recorded(self, *args, **kwargs):
        plans["kafka"].append(plan(self))  # no broker: record, write nothing

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_recorded)
    monkeypatch.setattr(DataFrameWriter, "save", save_recorded)
    spark.catalog.clearCache()

    out = tmp_path / "out"
    job.start_to_parquet(
        stream_messages_json(spark, str(src), max_files_per_trigger=1),
        NesConfig(),
        str(out),
        str(tmp_path / "ckpt"),
    ).awaitTermination(180)
    assert len(plans["parquet"]) == 2
    for _, p in plans["parquet"]:
        assert "Exchange" not in p, p
    files = glob.glob(str(out / "batch_id=*" / "*.parquet"))
    assert files
    for f in files:
        rows = pq.read_table(f, columns=["key", "block_height"]).to_pylist()
        keys = [(r["key"], r["block_height"]) for r in rows]
        assert keys == sorted(keys), f

    # With rejects: per batch, the routed write and then the rejects write.
    # Both read the persisted batch: the part of each plan above the cached
    # relation holds no scan of the source (foreachBatch hands a batch over
    # as an RDD scan, so a re-read shows as ExistingRDD, not FileScan).
    plans["parquet"].clear()
    rejected_dir = str(tmp_path / "rejected")
    job.start_to_parquet(
        stream_messages_json(spark, str(src), max_files_per_trigger=1),
        NesConfig(),
        str(tmp_path / "out-both"),
        str(tmp_path / "ckpt-both"),
        rejected_dir=rejected_dir,
    ).awaitTermination(180)
    targets = [path.split("/batch_id=")[0] for path, _ in plans["parquet"]]
    assert targets == [str(tmp_path / "out-both"), rejected_dir] * 2, targets
    for _, p in plans["parquet"]:
        own = p.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in own, p
        assert "FileScan" not in own and "ExistingRDD" not in own, p
        assert "Exchange" not in p, p

    q = job.start_to_kafka(
        stream_messages_json(spark, str(src)),
        NesConfig(),
        str(tmp_path / "ckpt-kafka"),
        "localhost:9092",
    )
    try:
        for _ in range(240):
            if plans["kafka"] or not q.isActive:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    assert plans["kafka"], q.exception()
    assert "hashpartitioning(key" in plans["kafka"][0], plans["kafka"][0]


def test_one_stream_runner():
    """The parity job is the package's only stream: ``writeStream``
    appears exactly once, in ``job.run_batches``; every ``run_batches(``
    call is in ``streaming/job.py``; every ``readStream`` is in
    ``sources/streamer.py``."""
    pkg = pathlib.Path(job.__file__).parents[1]

    def hits(needle):
        return [
            (str(path.relative_to(pkg)), n)
            for path in sorted(pkg.rglob("*.py"))
            for n, line in enumerate(path.read_text().splitlines(), 1)
            if needle in line
        ]

    writes = hits("writeStream")
    assert len(writes) == 1, writes
    assert writes[0][0] == "streaming/job.py", writes
    runs = hits("run_batches(")
    assert {f for f, _ in runs} == {"streaming/job.py"}, runs
    reads = hits("readStream")
    assert {f for f, _ in reads} == {"sources/streamer.py"}, reads



# Unwired until the job reports its own health from the stream plan
# (ROADMAP open item 2).
_UNREACHED_OK = {"BlockStatsListener"}


def _top_level_defs(tree):
    """(name, node) for each function, class and assigned name."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target
            ]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def _names(node):
    """Every identifier ``node`` mentions: names, attributes, imports."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def test_parity_definitions_reached_from_consumers():
    """A transitive name walk from the consumers (the CLI,
    ``__spark_entry__``, ``bench.py``, ``plan_audit.py``, perfbench and
    the package ``__all__``s) reaches every top-level definition of
    every module in the package. Tests are not consumers: code that
    only its own tests call is dead."""
    pkg = pathlib.Path(job.__file__).parents[1]
    repo = pkg.parent
    roots = [
        pkg / "cli.py",
        repo / "__spark_entry__.py",
        repo / "bench.py",
        repo / "plan_audit.py",
        *(
            path
            for path in sorted((repo / "perfbench").glob("*.py"))
            if not path.name.startswith("test_")
        ),
    ]
    defs = {}
    defined = []
    reached = set(_UNREACHED_OK)
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for name, node in _top_level_defs(tree):
            defs.setdefault(name, []).append(node)
            if name == "__all__":
                reached |= {
                    c.value
                    for c in ast.walk(node.value)
                    if isinstance(c, ast.Constant)
                }
            elif not name.startswith("__"):
                defined.append((str(path.relative_to(pkg)), name))
    for path in roots:
        reached |= set(_names(ast.parse(path.read_text())))
    frontier = list(reached)
    while frontier:
        for node in defs.get(frontier.pop(), ()):
            for name in _names(node):
                if name not in reached:
                    reached.add(name)
                    frontier.append(name)
    assert _UNREACHED_OK <= {name for _, name in defined}
    dead = [(path, name) for path, name in defined if name not in reached]
    assert not dead, dead

def test_inplace_compaction_preserves_rows_and_replay_safety(
    spark, fixture_messages_path, tmp_path
):
    """Three micro-batches → in-place compaction merges the two CLOSED
    batches into one size-targeted dir (open batch untouched), rows are
    byte-identical, and a full checkpoint-loss replay on the compacted
    layout still lands on the original row set (no duplicates)."""
    import os as _os
    import shutil as _shutil

    from near_event_streams_spark.sinks.parquet_sink import (
        compact_batch_dirs_inplace,
    )

    src = tmp_path / "blocks"
    src.mkdir()
    for i in range(3):
        dst = src / f"blocks{i}.jsonl"
        _shutil.copy(fixture_messages_path, dst)
        # deterministic batch order: file-source batches sort by mtime
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = job.start_to_parquet(
            stream_messages_json(spark, str(src), max_files_per_trigger=1),
            NesConfig(),
            out,
            ckpt,
        )
        q.awaitTermination(180)

    run()
    before = {tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()}
    dirs = sorted(d for d in _os.listdir(out) if d.startswith("batch_id="))
    assert dirs == ["batch_id=0", "batch_id=1", "batch_id=2"]

    n_batches, n_files = compact_batch_dirs_inplace(spark, out)
    assert (n_batches, n_files) == (2, 1)  # closed 0+1 merged, 2 left open
    dirs = sorted(d for d in _os.listdir(out) if d.startswith("batch_id="))
    assert dirs == ["batch_id=1", "batch_id=2"]
    assert not [d for d in _os.listdir(out) if d.startswith(".compact")]
    after = {tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()}
    assert after == before

    # replay-safety survives compaction: lose the checkpoint entirely,
    # replay all three batches over the compacted layout
    _shutil.rmtree(ckpt)
    run()
    replayed = {
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert replayed == before


def test_compaction_crash_recovery(spark, fixture_messages_path, tmp_path):
    """Interrupted swaps repair themselves: tmp-present state restores the
    originals; trash-only state (swap done) drops the trash."""
    import os as _os
    import shutil as _shutil

    from near_event_streams_spark.sinks.parquet_sink import (
        compact_batch_dirs_inplace,
    )

    src = tmp_path / "blocks"
    src.mkdir()
    for i in range(3):
        dst = src / f"blocks{i}.jsonl"
        _shutil.copy(fixture_messages_path, dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = job.start_to_parquet(
        stream_messages_json(spark, str(src), max_files_per_trigger=1),
        NesConfig(),
        out,
        ckpt,
    )
    q.awaitTermination(180)
    before = {tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()}

    # simulate a crash mid-swap: batch 0 moved to trash, tmp still present
    _os.rename(f"{out}/batch_id=0", f"{out}/.compact_trash.batch_id=0")
    _os.makedirs(f"{out}/.compact_tmp_1")
    n_batches, _ = compact_batch_dirs_inplace(spark, out)
    assert n_batches == 2  # recovery restored batch 0, then compaction ran
    after = {tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()}
    assert after == before
