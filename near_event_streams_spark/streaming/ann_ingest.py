"""ANN-index maintenance per batch: the sink body that keeps a
persisted IVF-PQ / OPQ index fresh while embedding batches arrive.

The pieces shipped separately in earlier rounds — ``ivfpq_append``
(encode-against-standing-geometry ingest), ``ivfpq_compact``
(scheduled retrain-and-swap), ``ivfpq_recover`` (mechanical crash
recovery for the swap window) — and this module wires them into one
batch body with ``foreachBatch``'s signature (the reference's
restart-resilience story, ``configs.rs:101-127``, applied to derived
index state):

* per batch: heal any crash debris from a previous run
  (``ivfpq_recover`` — one namenode RPC when healthy), land the RAW
  vectors in a lake directory (the index is lossy derived state;
  compaction re-reads the source), append the batch to the standing
  index idempotently (``if_absent=True`` — a replayed batch
  cannot double-insert candidates), then offer the scheduler an
  unconditional compact that only fires past ``min_appended_frac``.

Replay safety (a batch may be delivered again): the lake write uses a
``batch_id=N`` partition with dynamic partition overwrite, so a replayed
batch rewrites its own partition (effectively-once — the same contract
as ``job.start_to_parquet``); the index append anti-joins the batch's
``vec_id`` against the touched cells only (hive partition pruning keeps
the probe proportional to cell size).
Crash safety: a death inside the compact swap strands tmp/old dirs
that the NEXT batch's ``ivfpq_recover`` resolves before touching the
index. Precisely (r13 review — the swap window is narrower than
"any completed retrain is promoted"): a retrain that died BETWEEN the
two renames (live moved aside, complete build at tmp) is promoted; a
death before the first rename leaves the live index authoritative, so
the finished tmp build is DISCARDED and the compact simply re-fires at
the next due check (the appended fraction is unchanged) — retrain work
is lost, correctness is not.

Scale: every per-batch step is bounded by batch size or sidecar size,
with two scheduled exceptions the knobs control: the compact CHECK
(``min_appended_frac``) must count the current codes rows — a
metadata-only parquet footer count, but its file LISTING grows with
index size, so ``compact_check_every`` runs the check on a batch
cadence instead of every batch (r13 review) — and the fired compact
itself, the deliberate retrain the fraction threshold amortizes. The
lake accumulates one partition dir per batch; ``lake_compact_every``
folds closed dirs in-place (``sinks.parquet_sink``'s transactional
machinery), or manage it out-of-band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from near_event_streams_spark.operators import similarity
from near_event_streams_spark.session import partition_overwrite_mode
from near_event_streams_spark.streaming import ingest as ingest_mod


def seed_ann_index(
    corpus: DataFrame,
    index_path: str,
    lake_dir: str,
    n_clusters: int = 16,
    m: int = 8,
    ks: int = 256,
    seed: int = 42,
    opq: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    swap_mode: str = "rename",
    retain_versions: int | None = None,
) -> None:
    """Bootstrap the ingest loop: land the initial corpus in the lake
    (partition ``batch_id=-1`` — before every stream batch) and build +
    persist the initial index from it. After this, every new vector
    flows through :func:`ann_index_ingest_sink`. ``swap_mode`` picks
    the compact-swap protocol for the index's whole life (see
    :func:`similarity.ivfpq_write`): ``"rename"`` on atomic-rename
    filesystems (local/HDFS), ``"pointer"`` on object stores — the
    sink body is protocol-agnostic (append/compact/recover
    auto-detect the layout). ``retain_versions`` stamps the PERSISTED
    retention horizon every downstream maintenance call defaults to
    (r16); ``None`` resolves to 2 in pointer mode — one compact cycle
    of stale-reader grace, because pointer mode exists for exactly the
    shared object stores where long probe jobs hold pre-flip paths —
    and 1 in rename mode (see :func:`similarity.ivfpq_write`)."""
    spark = corpus.sparkSession
    # pin STATIC overwrite: under a session-level 'dynamic' setting a
    # re-seed over an existing lake would replace only batch_id=-1 and
    # leave stale stream partitions to poison the seed index (the same
    # hazard ivfpq_write pins against, r13 review)
    with partition_overwrite_mode(spark, "static"):
        (
            corpus.select(F.col(id_col), F.col(vec_col))
            .withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(lake_dir)
        )
    base = ingest_mod.one_row_per_key(
        spark.read.parquet(lake_dir).select(id_col, vec_col), [id_col]
    )
    if opq:
        enc, cents, rot, books = similarity.opq_index(
            base, n_clusters=n_clusters, m=m, ks=ks, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
        similarity.opq_write(
            enc, cents, rot, books, index_path, swap_mode=swap_mode,
            retain_versions=retain_versions,
        )
    else:
        enc, cents, books = similarity.ivfpq_index(
            base, n_clusters=n_clusters, m=m, ks=ks, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
        similarity.ivfpq_write(
            enc, cents, books, index_path, swap_mode=swap_mode,
            retain_versions=retain_versions,
        )


def ann_index_ingest_sink(
    index_path: str,
    lake_dir: str,
    min_appended_frac: float | None = None,
    opq: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_seed: int = 42,
    rescale_cells: bool = False,
    lake_compact_every: int | None = None,
    compact_check_every: int = 1,
    drift_psi_threshold: float | None = None,
    retain_versions: int | None = None,
):
    """Return the ``(batch, batch_id)`` sink body for ANN-index ingest:
    recover → lake-land → idempotent append → scheduled compact.
    Gated queries and tests call it directly, batch by batch; a stream
    would pass it to ``foreachBatch``.

    ``compact_check_every`` rate-limits the compact-due evaluation to
    every N-th batch: the check's codes row-count is metadata-only but
    lists the whole codes tree, so running it every small batch
    against a large index pays per-batch work proportional to index
    FILE COUNT (r13 review). Default 1 = check every batch.
    ``drift_psi_threshold`` arms the r14 drift OR-trigger: the compact
    also fires when the appended rows' coarse-cell occupancy PSI vs
    the at-write baseline reaches the threshold — erosion is a drift
    phenomenon, not a volume one (SCALE.md r13), so a volume-only
    scheduler never fires on exactly the appends that hurt; ~0.25
    (the classic "action" band) is a sane starting point, and iid
    appends sit well below it (tests pin both sides). Either trigger
    alone may be armed.
    ``retain_versions`` is the stale-reader grace window for the
    scheduled compacts (r15): superseded index versions survive that
    many swap cycles so a CONCURRENT probe job that resolved the
    pointer pre-flip can finish its scan (pointer layouts get true
    snapshot isolation; see :func:`similarity.ivfpq_compact`). The
    default ``None`` (r16) honors the horizon PERSISTED in the index
    sidecar — stamped at :func:`seed_ann_index` time, where pointer
    mode defaults to 2 — so pointer-mode ingest is grace-windowed
    by default on exactly the shared-store deployments pointer mode
    exists for (the r15 default of 1 kept delete-immediately
    semantics there; r15 verdict #4). The sink passes the same
    horizon to its top-of-batch :func:`similarity.ivfpq_recover`, so
    recovery never reclaims history the compacts deliberately kept;
    reclamation happens at the next compact's horizon sweep (or an
    out-of-band :func:`similarity.ivfpq_vacuum`).
    ``lake_compact_every`` folds the lake's closed ``batch_id=N`` dirs
    into size-targeted files every that-many batches (the 24/7
    small-files countermeasure, the transactional
    ``compact_batch_dirs_inplace`` machinery with its closed-batches-only
    replay contract); None = manage out-of-band."""
    if compact_check_every < 1:
        raise ValueError(
            f"compact_check_every={compact_check_every}: must be >= 1 "
            "(0 would divide-by-zero inside the sink and kill the "
            "stream; use min_appended_frac=None to disable compaction)"
        )
    if retain_versions is not None and retain_versions < 1:
        # fail at sink CONSTRUCTION, not at batch 0's recover call —
        # a bad horizon must not start a stream it will immediately
        # kill (same early-validation contract as compact_check_every)
        raise ValueError(
            f"retain_versions must be >= 1, got {retain_versions}"
        )
    if (
        min_appended_frac is None
        and drift_psi_threshold is None
        and (rescale_cells or compact_check_every != 1)
    ):
        raise ValueError(
            "rescale_cells / compact_check_every configure the "
            "scheduled compact, but min_appended_frac AND "
            "drift_psi_threshold are both None so the sink NEVER "
            "fires one — the knobs would be silently inert and the "
            "index never retrained (r13 review; note ivfpq_compact "
            "itself treats all-None as 'fire unconditionally', so "
            "the two layers' None semantics differ by design: a sink "
            "must not rebuild on every batch)"
        )
    if min_appended_frac is None and drift_psi_threshold is not None:
        # Drift-ONLY scheduler: the PSI trigger needs the sidecar's
        # `cell_counts` baseline (written since r14). When the index
        # already exists at sink construction, probe the sidecar NOW
        # and fail fast — the runtime gate raising the same error at
        # batch N's first compact check would kill a previously-
        # running stream mid-flight after an upgrade (r15 advice).
        # When the index doesn't exist yet (seeded later) the probe
        # is skipped and the runtime gate still backstops; upgrade
        # path for legacy indexes: rewrite/compact once to stamp the
        # baseline before arming drift-only.
        from pyspark.sql import SparkSession

        spark0 = SparkSession.getActiveSession()
        if spark0 is not None:
            try:
                base = similarity.resolve_index_base(spark0, index_path)
                meta = spark0.read.parquet(base + "/meta").collect()[0]
            except Exception:
                meta = None  # not seeded yet / unreadable: runtime decides
            if meta is not None and (
                "cell_counts" not in meta.__fields__
                or meta["cell_counts"] is None
            ):
                raise ValueError(
                    f"drift_psi_threshold={drift_psi_threshold} is "
                    f"the ONLY armed compact trigger for {index_path}, "
                    "but the index sidecar carries no usable "
                    "cell_counts baseline (written by ivfpq_write "
                    "since r14) — the scheduler would never fire, and "
                    "the stream would die at its first compact check. "
                    "Rewrite/compact the index once to stamp the "
                    "baseline, or arm min_appended_frac as the "
                    "fallback trigger."
                )
    append = similarity.opq_append if opq else similarity.ivfpq_append
    compact = similarity.opq_compact if opq else similarity.ivfpq_compact

    def _sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # heal any crash debris from a previous run BEFORE reading or
        # appending — a died-mid-swap compact must never strand the
        # loop. The return value surfaces the one lossy state: a
        # retrain finished but died before its swap is DISCARDED (the
        # live index stayed authoritative; the compact re-fires at the
        # next due check) — operators should see that wasted work in
        # the logs, not infer it from a duplicate retrain (r13
        # verdict #5; ivfpq_recover also warns internally).
        healed = similarity.ivfpq_recover(
            spark, index_path, retain_versions=retain_versions
        )
        if healed != "ok":
            similarity.log.info(
                "ann ingest batch %s: index recovery at %s -> %s",
                batch_id,
                index_path,
                healed,
            )
        vecs = batch.select(F.col(id_col), F.col(vec_col))
        # raw vectors land in the lake first: the index is derived
        # state; the scheduled retrain re-reads this source. batch_id
        # partition + dynamic overwrite = a replayed batch rewrites its
        # own partition instead of duplicating rows.
        with partition_overwrite_mode(spark, "dynamic"):
            (
                vecs.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(lake_dir)
            )
        append(
            spark, index_path, vecs, id_col, vec_col, if_absent=True
        )
        if (
            (min_appended_frac is not None or drift_psi_threshold is not None)
            and (batch_id + 1) % compact_check_every == 0
            and similarity.compact_due(
                spark, index_path, min_appended_frac, drift_psi_threshold
            )
        ):
            # corpus is built ONLY once the cheap precheck says the
            # retrain will fire: spark.read.parquet(lake_dir) pays
            # partition discovery over every batch dir, O(lake dirs)
            # per call (r13 review). one_row_per_key(id): the lake
            # legitimately holds a vec_id twice when the source
            # redelivers across DIFFERENT batches (each batch only
            # overwrites its own partition) — without it the retrain
            # would resurrect duplicates the if_absent append kept
            # out of the index; the content-hash tie-break keeps the
            # retrain corpus deterministic when one id carries two
            # different vectors (r13 advisory).
            corpus = ingest_mod.one_row_per_key(
                spark.read.parquet(lake_dir).select(id_col, vec_col),
                [id_col],
            )
            compact(
                spark,
                index_path,
                corpus,
                min_appended_frac=min_appended_frac,
                seed=compact_seed,
                rescale_cells=rescale_cells,
                id_col=id_col,
                vec_col=vec_col,
                drift_psi_threshold=drift_psi_threshold,
                retain_versions=retain_versions,
            )
        ingest_mod._maybe_compact_corpus(
            spark, lake_dir, batch_id, lake_compact_every
        )

    return _sink

