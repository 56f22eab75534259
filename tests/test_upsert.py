"""Merge-upsert state store tests: latest-per-key semantics, bucket-pruned
copy-on-write commits, replay/crash safety and vacuum."""

import json
import os

from pyspark.sql import functions as F

from near_event_streams_spark.streaming import upsert


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, seq long, val string")


def _state_rows(spark, path):
    df = upsert.read_state(spark, path)
    return {(r["k"], r["seq"], r["val"]) for r in df.collect()}


def test_merge_keeps_latest_per_key(spark, tmp_path):
    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(
        _batch(spark, [("a", 1, "a1"), ("b", 1, "b1")]), path, ["k"], "seq"
    )
    upsert.merge_upsert(
        _batch(spark, [("a", 2, "a2"), ("c", 1, "c1")]), path, ["k"], "seq"
    )
    assert _state_rows(spark, path) == {
        ("a", 2, "a2"),
        ("b", 1, "b1"),
        ("c", 1, "c1"),
    }
    # two rows for one key inside ONE batch: the higher seq wins too
    upsert.merge_upsert(
        _batch(spark, [("d", 1, "d1"), ("d", 3, "d3")]), path, ["k"], "seq"
    )
    assert ("d", 3, "d3") in _state_rows(spark, path)
    assert ("d", 1, "d1") not in _state_rows(spark, path)


def test_out_of_order_and_replay_are_noops(spark, tmp_path):
    """A late row with an older seq loses; replaying an already-merged
    batch leaves the state byte-identical (foreachBatch at-least-once)."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    b2 = _batch(spark, [("a", 5, "a5")])
    upsert.merge_upsert(b2, path, ["k"], "seq")
    before = _state_rows(spark, path)
    upsert.merge_upsert(_batch(spark, [("a", 3, "a3")]), path, ["k"], "seq")
    assert _state_rows(spark, path) == before
    upsert.merge_upsert(b2, path, ["k"], "seq")  # replay
    assert _state_rows(spark, path) == before


def test_commit_writes_only_dirty_buckets(spark, tmp_path):
    """Copy-on-write contract: a version directory contains only the
    buckets the batch touched; untouched buckets stay owned by their
    old version in the manifest."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    rows = [(f"k{i}", 1, f"v{i}") for i in range(50)]
    v1 = upsert.merge_upsert(_batch(spark, rows), path, ["k"], "seq")
    v2 = upsert.merge_upsert(
        _batch(spark, [("k0", 2, "v0b")]), path, ["k"], "seq"
    )
    assert v2 == v1 + 1
    v2_buckets = [
        d
        for d in os.listdir(os.path.join(path, f"v{v2}"))
        if d.startswith("_bucket=")
    ]
    assert len(v2_buckets) == 1
    with open(os.path.join(path, f"v{v2}", "manifest.json")) as f:
        manifest = json.load(f)
    owners = set(manifest.values())
    assert owners == {v1, v2}
    assert sum(1 for v in manifest.values() if v == v2) == 1
    # and the merged state is still complete
    got = _state_rows(spark, path)
    assert ("k0", 2, "v0b") in got and len(got) == 50


def test_orphan_version_from_crash_is_ignored_then_healed(spark, tmp_path):
    """A crash after writing a version dir but before the _LATEST swap
    leaves an orphan: readers never see it, and the next commit reuses
    (overwrites) its slot."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(_batch(spark, [("a", 1, "a1")]), path, ["k"], "seq")
    before = _state_rows(spark, path)
    # simulate the crashed attempt: v2 dir + manifest exist, _LATEST not swapped
    orphan = os.path.join(path, "v2")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "manifest.json"), "w") as f:
        json.dump({"0": 2}, f)
    assert _state_rows(spark, path) == before  # reader unaffected
    v = upsert.merge_upsert(
        _batch(spark, [("b", 1, "b1")]), path, ["k"], "seq"
    )
    assert v == 2  # the orphan slot was reclaimed
    assert _state_rows(spark, path) == before | {("b", 1, "b1")}


def test_read_state_prunes_to_manifest_buckets(spark, tmp_path):
    """The snapshot read scans only bucket dirs listed in the manifest —
    no full-store glob (files outside the manifest are invisible)."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(
        _batch(spark, [("a", 1, "a1"), ("b", 1, "b1")]), path, ["k"], "seq"
    )
    df = upsert.read_state(spark, path)
    files = {
        r[0]
        for r in df.select(
            F.input_file_name()
        ).distinct().collect()
    }
    assert files and all("/_bucket=" in f for f in files)


def test_meta_pins_layout_and_raises_on_mismatch(spark, tmp_path):
    """n_buckets/key_cols are persisted on first commit; a later merge
    with a different layout must refuse instead of silently corrupting
    the bucket modulus."""
    import pytest

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k long, seq long, v string"
    )
    upsert.merge_upsert(df, store, key_cols=["k"], seq_col="seq", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        upsert.merge_upsert(
            df, store, key_cols=["k"], seq_col="seq", n_buckets=8
        )
    with pytest.raises(ValueError, match="refusing"):
        upsert.merge_upsert(
            df, store, key_cols=["v"], seq_col="seq", n_buckets=4
        )
    # the matching layout still merges fine
    upsert.merge_upsert(df, store, key_cols=["k"], seq_col="seq", n_buckets=4)


def test_vacuum_reclaims_superseded_buckets(spark, tmp_path):
    """Repeated commits to the same keys must not grow storage without
    bound: vacuum deletes bucket dirs no longer referenced by the
    committed manifest (outside the retention window) and the store
    still reads back the latest state."""
    import os

    store = str(tmp_path / "store")
    for seq in range(5):
        df = spark.createDataFrame(
            [(1, seq, f"v{seq}"), (2, seq, f"w{seq}")],
            "k long, seq long, v string",
        )
        upsert.merge_upsert(
            df, store, key_cols=["k"], seq_col="seq", n_buckets=4
        )

    def bucket_dirs():
        out = []
        for entry in os.listdir(store):
            if entry.startswith("v") and os.path.isdir(
                os.path.join(store, entry)
            ):
                for sub in os.listdir(os.path.join(store, entry)):
                    if sub.startswith("_bucket="):
                        out.append(f"{entry}/{sub}")
        return sorted(out)

    before = bucket_dirs()
    removed = upsert.vacuum(store, retain_versions=1)
    after = bucket_dirs()
    assert removed > 0 and len(after) < len(before)
    _assert_vacuum_bounded(store, retain_versions=1)
    # every manifest-referenced bucket survived; state reads correctly
    state = {
        (r["k"], r["v"]) for r in upsert.read_state(spark, store).collect()
    }
    assert state == {(1, "v4"), (2, "w4")}
    # idempotent: nothing left to reclaim at the same retention
    assert upsert.vacuum(store, retain_versions=1) == 0


def test_read_state_at_time_travels_across_commits(spark, tmp_path):
    """Every commit snapshots a full manifest, so any retained version
    is readable as-of: v1 sees only the base batch, v2 sees the merge
    result, a never-committed version returns None — and time travel
    survives until vacuum retires the referenced buckets."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(
        _batch(spark, [("a", 1, "a1"), ("b", 1, "b1")]), path, ["k"], "seq"
    )
    upsert.merge_upsert(
        _batch(spark, [("a", 2, "a2"), ("c", 1, "c1")]), path, ["k"], "seq"
    )

    def rows(df):
        return {(r["k"], r["seq"], r["val"]) for r in df.collect()}

    v1 = upsert.read_state_at(spark, path, 1)
    assert rows(v1) == {("a", 1, "a1"), ("b", 1, "b1")}
    v2 = upsert.read_state_at(spark, path, 2)
    assert rows(v2) == {("a", 2, "a2"), ("b", 1, "b1"), ("c", 1, "c1")}
    assert rows(v2) == rows(upsert.read_state(spark, path))
    assert upsert.read_state_at(spark, path, 99) is None


def test_time_travel_horizon_is_vacuum(spark, tmp_path):
    """retain_versions IS the time-travel horizon: after vacuum
    reclaims a superseded bucket, the old version's manifest still
    exists but `read_state_at` must raise VersionRetiredError — never
    a partial scan, a raw path error, or the never-committed None
    (r14 review: an audit job must be able to tell an invalid request
    from an expired horizon) — while the retained latest version stays
    fully readable."""
    import pytest

    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(
        _batch(spark, [("a", 1, "a1"), ("b", 1, "b1")]), path, ["k"], "seq"
    )
    upsert.merge_upsert(
        _batch(spark, [("a", 2, "a2")]), path, ["k"], "seq"
    )
    # v1 readable before vacuum
    assert upsert.read_state_at(spark, path, 1) is not None
    removed = upsert.vacuum(path, retain_versions=1)
    assert removed >= 1
    # horizon passed: v1 retired (explicitly), latest intact,
    # never-committed still None
    with pytest.raises(upsert.VersionRetiredError, match="retain_versions"):
        upsert.read_state_at(spark, path, 1)
    assert upsert.read_state_at(spark, path, 99) is None
    v2 = upsert.read_state_at(spark, path, 2)
    got = {(r["k"], r["seq"], r["val"]) for r in v2.collect()}
    assert got == {("a", 2, "a2"), ("b", 1, "b1")}


def _assert_vacuum_bounded(path, retain_versions):
    """After ``vacuum``: every bucket dir at or below the retention floor
    is referenced by some retained manifest (current or inside the
    window), and the surviving bucket dirs are bounded by the retained
    manifests' entries."""
    cur = upsert.current_version(path)
    floor = cur - retain_versions
    live: set[tuple[int, str]] = set()
    n_manifest_entries = 0
    for v_ref in range(max(floor, 0) + 1, cur + 1):
        with open(os.path.join(path, f"v{v_ref}", "manifest.json")) as f:
            refs = {str(k): int(v) for k, v in json.load(f).items()}
        n_manifest_entries += len(refs)
        live |= {(owner, b) for b, owner in refs.items()}
    n_bucket_dirs = 0
    for entry in os.listdir(path):
        if not (entry.startswith("v") and entry[1:].isdigit()):
            continue
        v = int(entry[1:])
        buckets = [
            d.split("=", 1)[1]
            for d in os.listdir(os.path.join(path, entry))
            if d.startswith("_bucket=")
        ]
        n_bucket_dirs += len(buckets)
        if v <= floor:
            dead = [b for b in buckets if (v, b) not in live]
            assert not dead, (entry, dead)
    assert n_bucket_dirs <= n_manifest_entries


def test_vacuum_keeps_buckets_of_retained_manifests(spark, tmp_path):
    """r13 review: vacuum computed liveness from the CURRENT manifest
    only, so a bucket referenced by a RETAINED version's manifest but
    owned by a below-floor vdir was deleted — breaking read_state_at
    INSIDE the documented retain window. Shape: b last written at v1,
    still referenced by v2's manifest, superseded at v3; with
    retain_versions=2 (horizon covers v2) the v1 copy must survive."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(
        _batch(spark, [("a", 1, "a1"), ("b", 1, "b1")]), path, ["k"], "seq"
    )
    upsert.merge_upsert(_batch(spark, [("a", 2, "a2")]), path, ["k"], "seq")
    upsert.merge_upsert(
        _batch(spark, [("a", 3, "a3"), ("b", 3, "b3")]), path, ["k"], "seq"
    )
    upsert.vacuum(path, retain_versions=2)
    _assert_vacuum_bounded(path, retain_versions=2)
    v2 = upsert.read_state_at(spark, path, 2)
    assert v2 is not None, "retained-horizon version became unreadable"
    got = {(r["k"], r["seq"], r["val"]) for r in v2.collect()}
    assert got == {("a", 2, "a2"), ("b", 1, "b1")}
    latest = {(r["k"], r["val"]) for r in upsert.read_state(spark, path).collect()}
    assert latest == {("a", "a3"), ("b", "b3")}


def test_corrupt_latest_pointer_raises_not_empty(spark, tmp_path):
    """r13 review: an existing-but-garbled _LATEST used to read as
    'empty store', so the next merge silently restarted at version 1
    and orphaned all committed state (which the next vacuum then
    deleted). It must raise; a MISSING pointer still means empty."""
    import pytest

    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(_batch(spark, [("a", 1, "a1")]), path, ["k"], "seq")
    with open(os.path.join(path, "_LATEST"), "w") as f:
        f.write("not-a-version")
    with pytest.raises(ValueError, match="corrupt"):
        upsert.current_version(path)
    with pytest.raises(ValueError, match="corrupt"):
        upsert.merge_upsert(
            _batch(spark, [("a", 2, "a2")]), path, ["k"], "seq"
        )
    empty = str(tmp_path / "none")
    assert upsert.current_version(empty) == 0


def test_read_state_at_refuses_uncommitted_orphan_version(spark, tmp_path):
    """r14 review: a crash between a merge's manifest write and its
    _LATEST replace leaves a complete-looking orphan manifest one past
    the committed version. read_state (latest) never sees it, and the
    next commit clobbers it — but time travel opened the manifest file
    directly, so "as of version 2" could return state no commit ever
    published. It must return None until the version is committed."""
    import shutil

    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(_batch(spark, [("a", 1, "a1")]), path, ["k"], "seq")
    # simulate the crash window: run a second merge, then roll the
    # commit pointer back to v1 while leaving v2's dir+manifest intact
    upsert.merge_upsert(_batch(spark, [("a", 2, "a2")]), path, ["k"], "seq")
    with open(os.path.join(path, "_LATEST"), "w") as f:
        f.write("1")
    assert os.path.exists(os.path.join(path, "v2", "manifest.json"))
    assert upsert.read_state_at(spark, path, 2) is None
    assert upsert.read_state_at(spark, path, 0) is None
    # the orphan is invisible to the latest read too
    got = {
        (r["k"], r["seq"], r["val"])
        for r in upsert.read_state(spark, path).collect()
    }
    assert got == {("a", 1, "a1")}
    # re-committing (the replayed batch) makes v2 readable again
    upsert.merge_upsert(_batch(spark, [("a", 2, "a2")]), path, ["k"], "seq")
    v2 = {
        (r["k"], r["seq"], r["val"])
        for r in upsert.read_state_at(spark, path, 2).collect()
    }
    assert v2 == {("a", 2, "a2")}
    shutil.rmtree(path)


def test_fully_reclaimed_version_also_raises_retired(spark, tmp_path):
    """r15 review: vacuum deletes a version dir WHOLE when no retained
    manifest references any of its buckets — taking manifest.json with
    it — and read_state_at then hit OSError and returned the
    never-committed None. Any version <= current_version was provably
    committed (the _LATEST counter is the proof), so a missing
    manifest in range is retirement, not an invalid request."""
    import pytest

    path = str(tmp_path / "state")
    os.makedirs(path)
    # ONE key -> v2 rewrites v1's only bucket; nothing in v1 stays live
    upsert.merge_upsert(_batch(spark, [("a", 1, "a1")]), path, ["k"], "seq")
    upsert.merge_upsert(_batch(spark, [("a", 2, "a2")]), path, ["k"], "seq")
    assert upsert.vacuum(path, retain_versions=1) >= 1
    assert not os.path.isdir(os.path.join(path, "v1"))  # dir fully gone
    with pytest.raises(upsert.VersionRetiredError, match="retain_versions"):
        upsert.read_state_at(spark, path, 1)
    assert upsert.read_state_at(spark, path, 99) is None
    got = {(r["k"], r["val"]) for r in upsert.read_state_at(spark, path, 2).collect()}
    assert got == {("a", "a2")}


def test_unreadable_manifest_is_not_retirement(spark, tmp_path):
    """r15 advice: read_state_at mapped ANY OSError on the manifest
    read (EACCES, transient I/O) to VersionRetiredError, telling audit
    jobs a committed version was vacuumed when the store may simply be
    unreadable — contradicting current_version's refuse-to-masquerade
    contract. Only FileNotFoundError means retired; any other OSError
    propagates as itself. (Pinned with IsADirectoryError since the
    suite runs as root, where chmod-based EACCES doesn't bite.)"""
    import pytest
    import shutil

    path = str(tmp_path / "state")
    os.makedirs(path)
    upsert.merge_upsert(_batch(spark, [("a", 1, "a1")]), path, ["k"], "seq")
    # Replace v1's manifest FILE with a DIRECTORY: open() raises
    # IsADirectoryError — an OSError that is not FileNotFoundError,
    # standing in for "store unreadable, not reclaimed". Save the
    # manifest bytes first so the read-back below can actually prove
    # non-retirement (r16 advice: the old test only rmdir'd the
    # stand-in and never restored, so nothing verified the claim).
    manifest = os.path.join(path, "v1", "manifest.json")
    with open(manifest, "rb") as f:
        manifest_bytes = f.read()
    os.remove(manifest)
    os.makedirs(manifest)
    with pytest.raises(IsADirectoryError):
        upsert.read_state_at(spark, path, 1)
    # restore the manifest and prove the version was never retired:
    # the transient unreadability left the committed rows intact
    os.rmdir(manifest)
    with open(manifest, "wb") as f:
        f.write(manifest_bytes)
    got = {
        (r["k"], r["seq"], r["val"])
        for r in upsert.read_state_at(spark, path, 1).collect()
    }
    assert got == {("a", 1, "a1")}
    shutil.rmtree(path)
