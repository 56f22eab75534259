"""CLI parity surface: init writes config, run drives the file-source
pipeline end-to-end, sync-from-block filters by height.

Runs in-process via cli.main() (a subprocess would spin a second JVM);
the subprocess contract itself is exercised by the driver-facing smoke
in bench/verify flows.
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


def test_bench_unknown_flag_errors_fast():
    """r13 advisory: any mistyped flag (--band, --solos, --ivfpq) fell
    through to main() and silently ran the ~40-min full suite. Unknown
    args must exit non-zero immediately without touching Spark."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for argv in (["--band"], ["--solos", "q1"], ["--band-for", "q1"], ["extra"]):
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "bench.py"), *argv],
            capture_output=True,
            text=True,
            timeout=60,
        )
        assert proc.returncode != 0, argv
        assert "usage:" in (proc.stderr + proc.stdout), argv


def test_bench_non_integer_count_errors_with_usage():
    """r14 advisory: `--bands q1` / `--band-for NAME x` died with a
    bare int() ValueError traceback instead of the usage message the
    strict-arg handling otherwise guarantees."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for argv in (["--bands", "q1"], ["--band-for", "q1", "nope"]):
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "bench.py"), *argv],
            capture_output=True,
            text=True,
            timeout=60,
        )
        assert proc.returncode != 0, argv
        assert "usage:" in (proc.stderr + proc.stdout), argv
        assert "Traceback" not in proc.stderr, argv


def _load_bench():
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(root, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_contention_guard_band_adjudication():
    """r14 verdict #3 + r15 verdict #1: any banded query whose
    in-suite median exceeds its band ceiling must get a fresh-process
    re-solo with BOTH numbers recorded — serious tier (>1.3x)
    unbounded and heavy-inclusive, mild tier (ceiling..1.3x) capped at
    MILD_RESOLO_CAP for the non-heavy set, with each over-band HEAVY
    query getting exactly ONE re-solo of its own (r15 had silently
    excluded it) — plus in-band control solos and a box-speed factor
    classifying every adjudication in_band / box_elevated /
    band_noise / code_elevated. r16 verdict #2: at a measured factor
    of ~1.0 the controls have just PROVEN the box runs at band speed,
    so a within-tolerance elevation must read band_noise (dispersion
    against a quietest-ever band), not box_elevated (a box effect the
    controls contradict)."""
    bench = _load_bench()

    bands = {f"q{i}": [1.0, 2.0] for i in range(12)}
    bands["hv_mild"] = [10.0, 20.0]
    bands["hv_serious"] = [10.0, 20.0]
    timings = {
        "q0": 1.5,        # in band: a control candidate
        "q1": 5.0,        # serious (>2.6): re-solo, lands in band
        "q2": 9.0,        # serious: re-solo comes back WORSE (elevation)
        # six mild over-band queries (2.0 < t <= 2.6) — one past the cap
        "q3": 2.59, "q4": 2.5, "q5": 2.4, "q6": 2.3, "q7": 2.2,
        "q8": 2.1,
        "q9": 2.0,        # exactly at ceiling: compliant, control
        "unbanded": 99.0,  # no band: never adjudicated
        "hv_mild": 22.0,   # heavy + mild: ONE re-solo (tier mild-heavy)
        "hv_serious": 40.0,  # heavy + serious: still re-soloed
    }
    solos = {
        "q1": 1.8, "q2": 9.5,
        "q3": 1.9, "q4": 2.2, "q5": 1.9, "q6": 1.9, "q7": 1.9,
        "hv_serious": 15.0, "hv_mild": 21.0,
        # in-band controls (the box-speed instrument)
        "q0": 1.4, "q9": 1.6,
    }
    calls = []

    def fake_rerun(name):
        calls.append(name)
        return solos[name]

    heavy = {"hv_mild", "hv_serious"}
    out = bench._contention_guard(timings, bands, heavy, rerun=fake_rerun)
    adj = out["band_adjudication"]

    # every over-ceiling banded query adjudicated except: the at-cap
    # mild overflow (q8 — worst-excess-first keeps q3..q7), the
    # exactly-at-ceiling one, and the unbanded one. The heavy mild
    # query is now IN (r15 advice: it used to ship unadjudicated).
    assert set(adj) == {
        "q1", "q2", "q3", "q4", "q5", "q6", "q7",
        "hv_serious", "hv_mild",
    }
    assert "q8" not in calls
    assert len([n for n in adj if adj[n]["tier"] == "mild"]) == 5
    assert adj["hv_mild"]["tier"] == "mild-heavy"
    # both numbers + the band + the verdicts are recorded
    assert adj["q1"]["first_pass"] == 5.0
    assert adj["q1"]["solo"] == 1.8
    assert adj["q1"]["band"] == [1.0, 2.0]
    assert adj["q1"]["solo_in_band"] is True
    assert adj["q1"]["tier"] == "serious"
    assert adj["q2"]["solo_in_band"] is False
    # in-band controls: only banded, in-band, non-heavy queries; never
    # mutate timings
    assert set(out["controls"]) == {"q0", "q9"}
    assert timings["q0"] == 1.5 and timings["q9"] == 2.0
    # box factor = CONTROLS-ONLY median (>=2 controls available):
    # [0.933, 1.067] -> 1.0 — the adjudicated queries' own ratios
    # (incl. q2's 6.3 outlier) never enter the instrument
    assert out["box_factor"] == 1.0
    assert out["box_factor_source"] == "controls"
    # verdicts: solo back under ceiling -> in_band; within tolerance
    # at a factor the controls measured as ~1.0 (box at band speed)
    # -> band_noise, NOT box_elevated (r16 verdict #2); over even
    # after normalization -> code_elevated
    assert adj["q1"]["verdict"] == "in_band"
    assert adj["q3"]["verdict"] == "in_band"
    assert adj["q4"]["verdict"] == "band_noise"
    assert adj["hv_mild"]["verdict"] == "band_noise"
    assert adj["q2"]["verdict"] == "code_elevated"
    assert adj["hv_serious"]["verdict"] == "in_band"
    # control-ratio spread recorded (r16 verdict #3): 1.067 / 0.933
    assert out["control_spread"] == round(1.067 / 0.933, 3)
    # better-of-two reported: improved queries take the solo value,
    # worse re-runs keep the first pass
    assert timings["q1"] == 1.8 and timings["q2"] == 9.0
    assert timings["q4"] == 2.2 and timings["q3"] == 1.9
    assert timings["unbanded"] == 99.0
    # heavy deltas stay on the heavy line; the rest on the headline sum
    assert out["heavy_delta"] == (15.0 - 40.0) + (21.0 - 22.0)
    assert out["total_delta"] == (
        (1.8 - 5.0) + (1.9 - 2.59) + (2.2 - 2.5)
        + (1.9 - 2.4) + (1.9 - 2.3) + (1.9 - 2.2)
    )
    # contended = the big movers (solo < first/1.3): q1 (1.8 < 3.85),
    # hv_serious (15 < 30.8), q3 (1.9 < 1.992) — not q2 (got worse)
    assert set(out["contended"]) == {"q1", "hv_serious", "q3"}


def test_contention_guard_box_normalizes_slow_box_day():
    """r15 verdict #1, the acceptance scenario: a busy box inflates
    EVERY solo ~1.4x over bands that are quietest-ever minima. The old
    guard recorded solo_in_band:false / 'elevation confirmed' for
    code that did not change; the box-speed factor (median
    solo/band-midpoint over controls + adjudications) must classify
    the uniform elevation as box_elevated while the one genuinely
    regressed query still reads code_elevated."""
    bench = _load_bench()

    bands = {f"c{i}": [1.0, 2.0] for i in range(5)}
    bands.update({"qa": [1.0, 2.0], "qb": [1.0, 2.0], "qc": [1.0, 2.0]})
    timings = {f"c{i}": 1.9 for i in range(5)}  # in band even today
    timings.update({"qa": 2.2, "qb": 2.3, "qc": 6.0})
    solos = {
        # slow box: everything solos ~1.4x its band midpoint
        "qa": 2.2, "qb": 2.25,
        # the real regression: slow box cannot explain 5.8s vs mid 1.5
        "qc": 5.8,
        # controls (3 largest-ceiling in-band queries)
        "c0": 2.05, "c1": 2.1, "c2": 2.0,
    }
    calls = []

    def fake_rerun(name):
        calls.append(name)
        return solos[name]

    out = bench._contention_guard(timings, bands, set(), rerun=fake_rerun)
    adj = out["band_adjudication"]
    assert set(adj) == {"qa", "qb", "qc"}
    # exactly N_CONTROLS in-band controls soloed
    assert len(out["controls"]) == bench.N_CONTROLS
    assert set(out["controls"]) <= {f"c{i}" for i in range(5)}
    # CONTROLS-ONLY median: [1.333, 1.367, 1.4] -> 1.367 — qc's 3.9x
    # ratio never enters the instrument, so even a regression touching
    # MORE queries than there are controls cannot normalize itself
    assert out["box_factor"] == 1.367
    assert out["box_factor_source"] == "controls"
    # the uniform elevation is the box (a real factor > 1.05 was
    # measured, so box_elevated is the honest label); the 4x one is
    # the code
    assert adj["qa"]["verdict"] == "box_elevated"
    assert adj["qb"]["verdict"] == "box_elevated"
    assert adj["qc"]["verdict"] == "code_elevated"
    assert adj["qc"]["solo_box_normalized"] == round(5.8 / 1.367, 3)
    # homogeneous controls: spread 1.4/1.333, well under the weak bar
    assert out["control_spread"] == round(1.4 / 1.333, 3)
    # a fully quiet run never solos controls and reports factor 1.0
    quiet = {f"c{i}": 1.5 for i in range(5)}
    out2 = bench._contention_guard(quiet, bands, set(), rerun=fake_rerun)
    assert out2["band_adjudication"] == {} and out2["controls"] == {}
    assert out2["box_factor"] == 1.0
    assert out2["box_factor_source"] == "none"
    assert out2["control_spread"] is None


def test_contention_guard_pooled_fallback_is_labeled():
    """With fewer than 2 usable controls the factor falls back to the
    pooled (controls + adjudications) median — weaker, because a broad
    regression can then dominate it — and the artifact must say so via
    box_factor_source='pooled' (r16 review: the degenerate single-
    query case used to self-normalize silently)."""
    bench = _load_bench()

    # every banded query is over-band: no in-band control candidates
    bands = {"qa": [1.0, 2.0], "qb": [1.0, 2.0]}
    timings = {"qa": 2.2, "qb": 2.3}
    solos = {"qa": 2.2, "qb": 2.25}

    out = bench._contention_guard(
        timings, bands, set(), rerun=lambda n: solos[n]
    )
    assert out["controls"] == {}
    assert out["box_factor_source"] == "pooled"
    # pooled median of [1.467, 1.5] = 1.483...; both normalize back
    # under ceiling*1.1 — box_elevated, but labeled weak via the source
    assert out["box_factor"] == round((2.2 / 1.5 + 2.25 / 1.5) / 2, 3)
    assert all(
        e["verdict"] == "box_elevated"
        for e in out["band_adjudication"].values()
    )
    # no controls -> no spread to report
    assert out["control_spread"] is None


def test_contention_guard_control_spread_weak_signal(capsys):
    """r16 verdict #3: the r16 driver controls ratioed 1.055/1.969/
    2.236 — a 2.1x spread around the median the verdicts divided by.
    Heterogeneous fake controls above CONTROL_SPREAD_WEAK must record
    control_spread in the guard output AND print the treat-as-weak
    warning, mirroring box_factor_source honesty."""
    bench = _load_bench()

    bands = {f"c{i}": [3.0, 4.0] for i in range(4)}
    bands["qx"] = [1.0, 2.0]
    timings = {f"c{i}": 3.5 for i in range(4)}
    timings["qx"] = 2.4  # mild over-band -> triggers control solos
    solos = {
        "qx": 2.3,
        # heterogeneous contention sensitivity: ratios 1.057 / 1.971
        # / 2.229 vs band midpoint 3.5 (mirrors the r16 driver run)
        "c0": 3.7, "c1": 6.9, "c2": 7.8,
    }

    out = bench._contention_guard(
        timings, bands, set(), rerun=lambda n: solos[n]
    )
    ratios = sorted(c["ratio"] for c in out["controls"].values())
    assert ratios == [1.057, 1.971, 2.229]
    assert out["control_spread"] == round(2.229 / 1.057, 3)
    assert out["control_spread"] > bench.CONTROL_SPREAD_WEAK
    err = capsys.readouterr().err
    assert "control-ratio spread" in err
    assert "treat box_elevated verdicts as weak" in err
    # and the median factor still classifies qx: 2.3 / 1.971 = 1.167
    # -> back under ceiling*1.1 with a REAL factor -> box_elevated
    assert out["box_factor"] == 1.971
    assert out["band_adjudication"]["qx"]["verdict"] == "box_elevated"
