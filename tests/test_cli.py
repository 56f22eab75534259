"""CLI parity surface: init writes config, run drives the file-source
pipeline end-to-end, sync-from-block filters by height.

Runs in-process via cli.main() (a subprocess would spin a second JVM).
Also pins bench.py's command line and its JSON result line.
"""

import shutil
import time

from pyspark.sql.streaming import StreamingQueryListener

from near_event_streams_spark.cli import main


def _prep(tmp_path, fixture_messages_path):
    home = tmp_path / "home"
    src = tmp_path / "blocks"
    src.mkdir()
    shutil.copy(fixture_messages_path, src / "blocks.jsonl")
    assert main(["--home-dir", str(home), "init"]) == 0
    return home, src


def test_init_writes_and_refuses_overwrite(tmp_path):
    home = tmp_path / "h"
    assert main(["--home-dir", str(home), "init"]) == 0
    assert (home / "nes.toml").exists()
    assert main(["--home-dir", str(home), "init"]) == 1  # refuses


class _QueryLog(StreamingQueryListener):
    """Ids of the streaming queries started and terminated."""

    def __init__(self):
        self.started, self.terminated = [], []

    def onQueryStarted(self, event):  # noqa: N802
        self.started.append(str(event.id))

    def onQueryProgress(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        self.terminated.append(str(event.id))

    def settled(self, timeout=30.0):
        """Listener events are asynchronous: wait until every started
        query's termination has arrived, then return the started ids."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.started and len(self.terminated) >= len(self.started):
                break
            time.sleep(0.1)
        return self.started


def test_run_file_to_parquet(spark, tmp_path, fixture_messages_path):
    home, src = _prep(tmp_path, fixture_messages_path)
    out = tmp_path / "out"
    queries = _QueryLog()
    spark.streams.addListener(queries)
    try:
        rc = main(
            [
                "--home-dir", str(home),
                "run",
                "--source-dir", str(src),
                "--out-dir", str(out),
                "--timeout", "120",
                "sync-from-interruption",
            ]
        )
        started = queries.settled()
    finally:
        spark.streams.removeListener(queries)
    assert rc == 0
    # one query writes both outputs, on one checkpoint
    assert len(started) == 1, started
    checkpoints = sorted(
        p.name for p in home.iterdir() if p.name.startswith("checkpoint")
    )
    assert checkpoints == ["checkpoint"], checkpoints
    got = spark.read.parquet(str(out))
    # 4 valid events x 2 topics (same fixture as test_streaming)
    assert got.count() == 8
    rejected = spark.read.parquet(str(home / "rejected"))
    reasons = sorted(r["reject_reason"] for r in rejected.collect())
    assert reasons == ["parse_error", "validation_error"]


def test_run_sync_from_block_filters_height(
    spark, tmp_path, fixture_messages_path
):
    home, src = _prep(tmp_path, fixture_messages_path)
    out = tmp_path / "out"
    rc = main(
        [
            "--home-dir", str(home),
            "run",
            "--source-dir", str(src),
            "--out-dir", str(out),
            "--timeout", "120",
            "sync-from-block", "--height", "1000000",
        ]
    )
    assert rc == 0
    # all fixture blocks are below height 1000000 -> nothing routed
    try:
        n = spark.read.parquet(str(out)).count()
    except Exception:
        n = 0  # no files written at all
    assert n == 0


def test_kafka_sink_argument_binding(
    tmp_path, fixture_messages_path, monkeypatch
):
    """The Kafka sink must receive (checkpoint_dir, bootstrap_servers,
    rejected_dir) in that keyword binding — a positional swap would point
    the producer at the checkpoint path (untestable live: no broker in the
    container)."""
    from near_event_streams_spark.streaming import job

    home, src = _prep(tmp_path, fixture_messages_path)
    seen = {}

    def fake_start_to_kafka(
        messages, config, checkpoint_dir, bootstrap_servers, rejected_dir
    ):
        seen["checkpoint_dir"] = checkpoint_dir
        seen["bootstrap_servers"] = bootstrap_servers
        seen["rejected_dir"] = rejected_dir

        class _Q:
            def awaitTermination(self, timeout=None):
                return True

            def stop(self):
                pass

        return _Q()

    monkeypatch.setattr(job, "start_to_kafka", fake_start_to_kafka)
    rc = main(
        [
            "--home-dir", str(home),
            "run",
            "--source-dir", str(src),
            "--sink", "kafka",
            "--timeout", "1",
            "sync-from-interruption",
        ]
    )
    assert rc == 0
    assert seen["checkpoint_dir"] == str(home / "checkpoint")
    # home's nes.toml has no bootstrap.servers -> default applies
    assert seen["bootstrap_servers"] == "localhost:9092"
    assert seen["rejected_dir"] == str(home / "rejected")


def test_run_requires_source_dir(tmp_path):
    home = tmp_path / "h"
    main(["--home-dir", str(home), "init"])
    rc = main(
        ["--home-dir", str(home), "run", "sync-from-latest"]
    )
    assert rc == 2


def test_scratch_dir_steady_state_is_three_dirs():
    """r13 advisory: the reap ran BEFORE appending the new dir, so the
    steady state retained 4 dirs per prefix while the docstring
    promises a 3-call grace window. Exactly 3 must survive."""
    import os

    from near_event_streams_spark.plans import _common

    kind = "reaptest"
    sfd = "/nonexistent/sf-reap-test"
    handed = [_common.scratch_dir(kind, sfd, keep_dir=True) for _ in range(6)]
    prefix = [p for p in _common._SCRATCH_DIRS if kind in p][0]
    live = _common._SCRATCH_DIRS[prefix]
    assert len(live) == 3
    assert live == handed[-3:]
    for p in handed[:3]:
        assert not os.path.exists(p), p
    for p in handed[-3:]:
        assert os.path.exists(p), p
    # cleanup
    import shutil

    for p in handed[-3:]:
        shutil.rmtree(p, ignore_errors=True)
    del _common._SCRATCH_DIRS[prefix]


def _assert_bench_usage_error(argvs):
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for argv in argvs:
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "bench.py"), *argv],
            capture_output=True,
            text=True,
            timeout=60,
        )
        assert proc.returncode != 0, argv
        assert "usage:" in (proc.stderr + proc.stdout), argv
        assert "Traceback" not in proc.stderr, argv


def test_bench_unknown_flag_errors_fast():
    """bench.py takes no arguments: any argument, including the removed
    band and solo modes, must exit non-zero at once with the usage line
    and no traceback, never fall through to the full suite."""
    _assert_bench_usage_error(
        (["--band"], ["--solos", "q1"], ["--band-for", "q1"], ["extra"], ["--solo", "q1"])
    )


def test_bench_non_integer_count_errors_with_usage():
    """The old count-taking flags with a non-integer count (`--bands q1`,
    `--band-for NAME x`) must give the usage line, not an int() traceback."""
    _assert_bench_usage_error((["--bands", "q1"], ["--band-for", "q1", "nope"]))


def test_bench_result_line_fits_stdout_tail():
    """Consumers parse bench.py's last stdout line from a 2,000-byte
    tail. With every headline query at a worst-case timing the line
    must still parse and stay under 1,900 bytes, so a query added to
    HEADLINE cannot push it past the tail."""
    import json

    import bench

    timings = {name: 9999.99 for name, _ in bench.HEADLINE}
    line = bench.result_line(timings, bench.HEAVY, 0.1)
    assert len(line.encode()) < 1900, len(line.encode())
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(timings)
    n_headline = len(timings) - len(bench.HEAVY)
    assert parsed["value"] == round(9999.99 * n_headline, 2)
