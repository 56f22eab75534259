"""ANN-index maintenance through the batch sink
(``streaming/ann_ingest.py:ann_index_ingest_sink``, r12 verdict #3):
embedding batches appended to a persisted IVF-PQ index, a scheduled
compact firing inside a batch (``min_appended_frac`` crossed), and a
crash injected INSIDE a compact's swap window between two windows of
batches, which the next batch must heal mechanically
(``ivfpq_recover`` at the top of the batch) — with final probe results
IDENTICAL to a never-crashed run over the same batches.

This is the reference's restart-resilience story
(`/root/reference/src/configs.rs:101-127` sync modes — resume exactly
where a death left off) applied to derived index state.
"""

import os

import pytest

from near_event_streams_spark.operators import similarity
from near_event_streams_spark.sources.tables import load_table
from near_event_streams_spark.streaming import ann_ingest
from tests.conftest import SF_DIR

# seed = first 300 vec_ids; four 50-row batches cover the rest
SLICES = [(300, 350), (350, 400), (400, 450), (450, 500)]


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _batch_df(emb, lo: int, hi: int):
    return (
        emb.filter((emb.vec_id >= lo) & (emb.vec_id < hi))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )


def _run_window(emb, idx: str, lake: str, first_batch: int) -> None:
    """Two consecutive batches through a freshly built sink, as a
    restarted stream would deliver them. Each batch is materialized
    first, like a micro-batch read from its source file, so the sink's
    several passes over it do not re-run the filter and sort."""
    # min_appended_frac=0.2 makes the sink's own scheduled compact FIRE:
    # on the 300-row seed the appended fraction is 50/350 after batch 0
    # (skip) and 100/400 = 0.25 after batch 1 (fire, yardstick resets to
    # 400), then 50/450 (skip) and 100/500 = 0.2 (fire) across the
    # second window — identical schedule in the clean and crashed runs
    sink = ann_ingest.ann_index_ingest_sink(
        idx, lake, min_appended_frac=0.2, compact_seed=42
    )
    for batch_id in (first_batch, first_batch + 1):
        sink(_batch_df(emb, *SLICES[batch_id]).localCheckpoint(), batch_id)


def _drive_run(
    spark, emb, root, crash: str | None, swap_mode: str = "rename"
) -> str:
    """Seed index on vec_id<300, sink batches 0-1, run the nightly
    out-of-band compact (crash-injected when ``crash`` is "between" —
    inside the swap window — or "before" — retrain finished, swap not
    yet started, so the work is DISCARDED and the schedule re-fires),
    then sink batches 2-3; return the index path. ``swap_mode``
    exercises the same loop over both swap protocols (r13 verdict #2)."""
    idx = str(root / "idx")
    lake = str(root / "lake")

    seed_corpus = emb.filter(emb.vec_id < 300)
    # retain_versions=1 = explicit opt-out of pointer mode's r16
    # grace-window default (2): this test pins CRASH-HEAL convergence,
    # and delete-immediately keeps the no-debris assertions crisp; the
    # persisted-horizon defaults have their own tests in
    # test_ivfpq_pointer.py
    ann_ingest.seed_ann_index(
        seed_corpus, idx, lake, n_clusters=8, m=8, ks=256, seed=42,
        swap_mode=swap_mode, retain_versions=1,
    )
    _run_window(emb, idx, lake, first_batch=0)

    # the nightly maintenance compact between the two windows
    corpus = spark.read.parquet(lake).select("vec_id", "embedding")
    if crash is not None:
        kw = (
            {"_crash_between_renames": True}
            if crash == "between"
            else {"_crash_before_swap": True}
        )
        with pytest.raises(IOError, match="injected crash"):
            similarity.ivfpq_compact(spark, idx, corpus, seed=42, **kw)
        if swap_mode == "rename":
            if crash == "between":
                # live renamed away, the completed retrain stranded at
                # tmp — the next batch must PROMOTE it
                assert not os.path.exists(idx + "/meta")
                assert os.path.exists(idx + ".compact-tmp/meta")
                assert os.path.exists(idx + ".compact-old/meta")
            else:
                # live untouched, finished retrain stranded at tmp —
                # the next batch must DISCARD it (and say so)
                assert os.path.exists(idx + "/meta")
                assert os.path.exists(idx + ".compact-tmp/meta")
        else:
            # pointer protocol: both seams leave exactly two version
            # dirs (live + unflipped retrain, or flipped live + stray
            # superseded) and an always-resolvable pointer
            assert len(similarity._list_versions(spark, idx)) == 2
            similarity.resolve_index_base(spark, idx)  # no raise
    else:
        res = similarity.ivfpq_compact(spark, idx, corpus, seed=42)
        assert res["compacted"] is True

    # the first batch after the crash runs ivfpq_recover, which (in the
    # crashed runs) promotes the stranded complete compact / discards
    # the unswapped one / cleans strays before any append touches the
    # index
    _run_window(emb, idx, lake, first_batch=2)
    return idx


def _index_state(spark, idx: str):
    base = similarity.resolve_index_base(spark, idx)
    codes = {
        r["vec_id"]: (int(r["cluster"]), bytes(r["codes"]), r["vec_norm"])
        for r in spark.read.parquet(base + "/codes").collect()
    }
    meta = spark.read.parquet(base + "/meta").collect()[0]
    return codes, meta["centroids"], meta["books"]


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory, emb):
    """One never-crashed reference run per swap protocol (the crashed
    twins below must converge to it byte-identically). Both the
    'before' and 'between' crash seams converge to the same state:
    the final in-sink scheduled compact (batch 3, the fourth, crosses
    the 0.2 fraction) retrains deterministically from the identical 500-row
    lake, erasing the nightly compact's presence-or-absence."""
    return {
        mode: _drive_run(
            spark,
            emb,
            tmp_path_factory.mktemp(f"ann_clean_{mode}"),
            crash=None,
            swap_mode=mode,
        )
        for mode in ("rename", "pointer")
    }


@pytest.mark.parametrize(
    "swap_mode,crash_seam",
    [
        ("rename", "between"),
        ("rename", "before"),
        ("pointer", "between"),
        ("pointer", "before"),
    ],
)
def test_stream_ingest_crash_recovery_end_to_end(
    spark, tmp_path_factory, emb, clean_runs, swap_mode, crash_seam
):
    clean_idx = clean_runs[swap_mode]
    crashed_idx = _drive_run(
        spark,
        emb,
        tmp_path_factory.mktemp(f"ann_crash_{swap_mode}_{crash_seam}"),
        crash=crash_seam,
        swap_mode=swap_mode,
    )

    # no crash debris survives the healed run
    if swap_mode == "rename":
        assert not os.path.exists(crashed_idx + ".compact-tmp")
        assert not os.path.exists(crashed_idx + ".compact-old")
    else:
        assert len(similarity._list_versions(spark, crashed_idx)) == 1

    # byte-identical index state: codes rows, centroids, codebooks
    c_codes, c_cents, c_books = _index_state(spark, clean_idx)
    x_codes, x_cents, x_books = _index_state(spark, crashed_idx)
    assert len(c_codes) == 500  # seed 300 + 4 x 50 appended
    assert x_codes == c_codes
    assert x_cents == c_cents
    assert x_books == c_books

    # and probe results identical to the never-crashed run
    queries = emb.filter(emb.vec_id < 10)
    probes = []
    for idx in (clean_idx, crashed_idx):
        index = similarity.ivfpq_read(spark, idx)
        probes.append(
            sorted(
                (r["query_id"], r["rank"], r["cand_id"], r["cos_sim"])
                for r in similarity.ivfpq_topk(
                    queries, emb, k=5, nprobe=8, refine=4, index=index
                ).collect()
            )
        )
    assert probes[0] == probes[1]
    assert len(probes[0]) == 50  # 10 queries x k=5


def test_sink_opq_layout_append_and_scheduled_compact(spark, tmp_path, emb):
    """The sink's OPQ branch: seed a rotation-carrying index, append a
    batch through the sink (replay-idempotent), and let the sink's OWN
    scheduled compact fire on the rot layout — the healed/rewritten
    sidecar must still carry an orthogonal rotation opq_read accepts."""
    import numpy as np

    idx = str(tmp_path / "idx")
    lake = str(tmp_path / "lake")
    seed_corpus = emb.filter(emb.vec_id < 300)
    ann_ingest.seed_ann_index(
        seed_corpus, idx, lake, n_clusters=8, m=8, ks=256, seed=42,
        opq=True,
    )
    # the plain-layout guard refuses this index outside the OPQ paths
    with pytest.raises(ValueError, match="OPQ"):
        similarity.ivfpq_read(spark, idx)

    # min_appended_frac=0.1: the 50-row batch on a 300-row seed is a
    # 1/7 appended fraction, so the sink's own scheduled compact FIRES
    sink = ann_ingest.ann_index_ingest_sink(
        idx, lake, min_appended_frac=0.1, opq=True
    )
    sink(_batch_df(emb, 300, 350), 0)
    sink(_batch_df(emb, 300, 350), 0)  # redelivery after the compact
    assert spark.read.parquet(idx + "/codes").count() == 350

    enc, cents, rot, books = similarity.opq_read(spark, idx)
    assert enc.count() == 350
    assert np.allclose(
        rot @ rot.T, np.eye(rot.shape[0]), atol=1e-8
    )
    # the fired compact reset the sidecar yardstick: a direct second
    # scheduled compact at the same threshold reports ~0 appended
    res = similarity.opq_compact(
        spark,
        idx,
        spark.read.parquet(lake).select("vec_id", "embedding"),
        min_appended_frac=0.1,
        seed=42,
    )
    assert res["compacted"] is False


def test_sink_lake_compaction_folds_closed_batches(spark, tmp_path, emb):
    """lake_compact_every folds the lake's CLOSED batch dirs into
    size-targeted files (the 24/7 small-files countermeasure,
    ``sinks.parquet_sink``'s machinery) without losing rows, and the
    max-present batch — the only one an at-least-once replay can
    redeliver — stays an intact partition so redelivery is still a
    partition overwrite, not a duplicate."""
    import glob

    idx = str(tmp_path / "idx")
    lake = str(tmp_path / "lake")
    ann_ingest.seed_ann_index(
        emb.filter(emb.vec_id < 300), idx, lake,
        n_clusters=8, m=8, ks=256, seed=42,
    )
    sink = ann_ingest.ann_index_ingest_sink(idx, lake, lake_compact_every=2)
    for i, (lo, hi) in enumerate(SLICES[:3]):
        sink(_batch_df(emb, lo, hi), i)

    # batches -1 (seed), 0 folded into one dir at the 2nd batch; dirs
    # 1 and 2 remain (2 = max-present, never folded)
    dirs = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(lake + "/batch_id=*")
    )
    assert len(dirs) < 5  # strictly fewer than one-dir-per-write
    assert spark.read.parquet(lake).count() == 450
    assert spark.read.parquet(idx + "/codes").count() == 450

    # redelivery of the max-present batch after a fold: still a no-op
    # for the index and a partition rewrite (not a dup) for the lake
    sink(_batch_df(emb, *SLICES[2]), 2)
    assert spark.read.parquet(lake).count() == 450
    assert spark.read.parquet(idx + "/codes").count() == 450


def test_sink_replay_is_idempotent(spark, tmp_path, emb):
    """foreachBatch is at-least-once: redelivering the SAME batch after
    a mid-batch death must not change the index (if_absent anti-join)
    or duplicate lake rows (batch_id partition overwrite)."""
    idx = str(tmp_path / "idx")
    lake = str(tmp_path / "lake")
    seed_corpus = emb.filter(emb.vec_id < 300)
    ann_ingest.seed_ann_index(
        seed_corpus, idx, lake, n_clusters=8, m=8, ks=256, seed=42
    )
    sink = ann_ingest.ann_index_ingest_sink(idx, lake)
    batch = _batch_df(emb, 300, 350)

    sink(batch, 0)
    codes_once = {
        r["vec_id"]: (int(r["cluster"]), bytes(r["codes"]))
        for r in spark.read.parquet(idx + "/codes").collect()
    }
    assert len(codes_once) == 350

    sink(batch, 0)  # redelivery
    codes_twice = {
        r["vec_id"]: (int(r["cluster"]), bytes(r["codes"]))
        for r in spark.read.parquet(idx + "/codes").collect()
    }
    assert spark.read.parquet(idx + "/codes").count() == 350
    assert codes_twice == codes_once
    assert spark.read.parquet(lake).count() == 350


def test_sink_rejects_inert_compaction_knobs(tmp_path):
    """rescale_cells / compact_check_every without min_appended_frac
    would be silently inert — the sink never fires a compact, cells
    never rescale, recall erodes unboundedly with no signal (r13
    review). The sink must refuse the configuration up front."""
    with pytest.raises(ValueError, match="min_appended_frac"):
        ann_ingest.ann_index_ingest_sink(
            str(tmp_path / "i"), str(tmp_path / "l"), rescale_cells=True
        )
    with pytest.raises(ValueError, match="min_appended_frac"):
        ann_ingest.ann_index_ingest_sink(
            str(tmp_path / "i"),
            str(tmp_path / "l"),
            compact_check_every=4,
        )
    # a bad retention horizon fails at CONSTRUCTION, not at batch 0's
    # recover call mid-stream (r15)
    with pytest.raises(ValueError, match="retain_versions"):
        ann_ingest.ann_index_ingest_sink(
            str(tmp_path / "i"), str(tmp_path / "l"), retain_versions=0
        )


def test_compact_does_not_resurrect_cross_batch_duplicates(
    spark, tmp_path, emb
):
    """A vec_id redelivered in a DIFFERENT micro-batch lands in the
    lake twice (each batch overwrites only its own partition); the
    if_absent append keeps the index at one row — and the scheduled
    retrain, which re-reads the lake, must not bring the duplicate
    back (r13 review: the compact corpus is deduplicated on id)."""
    idx = str(tmp_path / "idx")
    lake = str(tmp_path / "lake")
    ann_ingest.seed_ann_index(
        emb.filter(emb.vec_id < 300), idx, lake,
        n_clusters=8, m=8, ks=256, seed=42,
    )
    sink = ann_ingest.ann_index_ingest_sink(
        idx, lake, min_appended_frac=0.05
    )
    sink(_batch_df(emb, 300, 350), 0)
    # cross-batch redelivery: rows 320-350 appear AGAIN in batch 1
    sink(_batch_df(emb, 320, 360), 1)
    n_distinct = 360
    lake_rows = spark.read.parquet(lake)
    assert lake_rows.count() > n_distinct  # duplicates really in lake
    assert (
        lake_rows.select("vec_id").distinct().count() == n_distinct
    )
    # batch 1 crossed min_appended_frac, so the compact already fired
    # inside the sink; the rebuilt index must hold one row per id
    assert spark.read.parquet(idx + "/codes").count() == n_distinct


def test_compact_due_matches_compact_gate(spark, tmp_path, emb):
    """compact_due is the sink's cheap precheck — its verdict must
    match ivfpq_compact's own min_appended_frac gate on both sides of
    the threshold, and stay index-only (no corpus argument at all)."""
    idx = str(tmp_path / "idx")
    old = emb.filter(emb.vec_id % 2 == 0)
    enc, cents, books = similarity.ivfpq_index(old, 8, 8, 256)
    similarity.ivfpq_write(enc, cents, books, idx)
    assert similarity.compact_due(spark, idx, 0.1) is False
    similarity.ivfpq_append(
        spark, idx, emb.filter(emb.vec_id % 2 == 1)
    )
    # ~50% appended now
    assert similarity.compact_due(spark, idx, 0.25) is True
    assert similarity.compact_due(spark, idx, 0.75) is False


def test_drift_only_sink_fails_fast_on_legacy_sidecar(spark, tmp_path, emb):
    """r15 advice: the drift-only compact gate used to raise at batch
    N's FIRST compact check when the sidecar predates the r14
    cell_counts baseline — a previously-running ingest stream died
    mid-flight after an upgrade, even though the sink validates its
    other knobs at construction. When the index exists at sink
    construction, the sidecar is probed THEN; the fix must not break
    the seed-later workflow (index absent at construction = probe
    skipped, the runtime gate still backstops)."""
    idx = str(tmp_path / "idx")
    lake = str(tmp_path / "lake")
    ann_ingest.seed_ann_index(
        emb.filter(emb.vec_id < 300), idx, lake,
        n_clusters=8, m=8, ks=256, seed=42,
    )
    # strip cell_counts to fake a pre-r14 sidecar
    legacy = spark.read.parquet(idx + "/meta").drop("cell_counts")
    legacy.toPandas().to_parquet(str(tmp_path / "legacy.parquet"))
    (
        spark.read.parquet(str(tmp_path / "legacy.parquet"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(idx + "/meta")
    )
    # drift-ONLY sink over the legacy index: refuse at CONSTRUCTION
    with pytest.raises(ValueError, match="cell_counts"):
        ann_ingest.ann_index_ingest_sink(
            idx, lake, drift_psi_threshold=0.25
        )
    # volume fallback armed: constructible (the gate degrades to
    # volume-only at runtime, with a warning)
    ann_ingest.ann_index_ingest_sink(
        idx, lake, min_appended_frac=0.5, drift_psi_threshold=0.25
    )
    # index absent at construction: probe skipped, sink constructible
    ann_ingest.ann_index_ingest_sink(
        str(tmp_path / "not_yet"), str(tmp_path / "l2"),
        drift_psi_threshold=0.25,
    )


def test_pointer_sink_defaults_to_grace_window(spark, tmp_path, emb):
    """r15 verdict #4: the sink's old retain_versions=1 default kept
    delete-immediately semantics on exactly the shared-object-store
    deployments pointer mode exists for. The default is now the
    PERSISTED horizon — 2 at pointer seed — so a default-constructed
    sink's scheduled compact leaves the superseded version as reader
    grace, swept by the NEXT compact's horizon."""
    idx = str(tmp_path / "idx")
    lake = str(tmp_path / "lake")
    ann_ingest.seed_ann_index(
        emb.filter(emb.vec_id < 300), idx, lake,
        n_clusters=8, m=8, ks=256, seed=42, swap_mode="pointer",
    )
    sink = ann_ingest.ann_index_ingest_sink(
        idx, lake, min_appended_frac=0.1
    )
    pre_base = similarity.resolve_index_base(spark, idx)
    sink(_batch_df(emb, 300, 400), 0)  # 100/400 = 0.25 -> compact fires
    assert similarity.resolve_index_base(spark, idx) != pre_base
    # superseded v0 retained: the pre-flip reader's files survive
    assert similarity._list_versions(spark, idx) == [0, 1]
    assert spark.read.parquet(pre_base + "/codes").count() == 400
    sink(_batch_df(emb, 400, 500), 1)  # next compact sweeps v0
    assert similarity._list_versions(spark, idx) == [1, 2]
