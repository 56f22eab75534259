"""Incremental corpus ingestion: streaming exact-dedup against a
persistent fingerprint registry.

The batch dedup operators (``operators/dedup.py``) answer "which of
THESE docs duplicate each other"; a 24/7 ingest pipeline needs the
incremental question — "which of these NEW docs duplicate anything we
already accepted, across all previous batches". This module composes the
pieces the repo already has into that pipeline:

* fingerprint = md5 of whitespace-normalized lowercase text (the same
  normalization as ``dedup.normalized_text`` — deterministic,
  engine-portable, 16 bytes/doc regardless of doc size);
* the registry of accepted fingerprints lives in the bucket-pruned
  merge-upsert store (``streaming/upsert.py``) — reads prune to the
  buckets a batch touches, commits are crash/replay-safe;
* per micro-batch (``foreachBatch``): dedup WITHIN the batch (keep min
  doc_id per fingerprint), anti-join the registry, append only the
  survivors to the corpus sink, then register their fingerprints.

Replay safety: ``foreachBatch`` is at-least-once, and both crash
windows are covered. Crash BEFORE the registry commit → the replay
recomputes the same survivors (within-batch winner deterministic,
registry unchanged) and the ``batch_id=N`` dynamic partition overwrite
rewrites the identical files. Crash AFTER the registry commit → the
replay's survivors come back empty (their fingerprints are already
registered), the empty write touches no partition, and the idempotent
registry upsert is a no-op. Either way: no lost and no duplicated docs
(pytest-simulated in ``tests/test_ingest.py``).

Scale: the only per-batch costs are one hash aggregation over the batch
(small), one anti-join against the PRUNED registry buckets (state read
is O(dirty buckets), never O(corpus)), and one bounded upsert commit.
The corpus itself is never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from near_event_streams_spark.operators import dedup
from near_event_streams_spark.operators.dedup import normalized_text
from near_event_streams_spark.session import partition_overwrite_mode
from near_event_streams_spark.streaming import upsert
from near_event_streams_spark.streaming.job import run_batches


def fingerprint_col(text_col: str = "text"):
    """md5 of the normalized text — the cross-batch dedup key."""
    return F.md5(normalized_text(F.col(text_col)))


def _content_hash(df: DataFrame):
    """Deterministic per-row ``xxhash64`` over EVERY column — the
    tie-break that makes survivor selection shuffle-order independent.
    Map-bearing columns are hashed through ``to_json`` (Spark refuses
    to hash raw maps: element order is undefined)."""
    from pyspark.sql import types as T

    def has_map(dt) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    return F.xxhash64(
        *[
            F.to_json(F.col(f.name)) if has_map(f.dataType) else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def one_row_per_key(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Deterministic ``dropDuplicates``: exactly one row per key — the
    row with the smallest content hash over ALL columns. Plain
    ``dropDuplicates([key])`` keeps an ARBITRARY row when one key
    carries two different payloads, so an at-least-once replay could
    commit a DIFFERENT row than the original run and break the
    byte-identical-replay discipline the ingest e2es pin (r13
    advisory). One per-key row_number window — the same shuffle
    ``dropDuplicates`` pays."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(_content_hash(df))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _within_batch_exact(fp: DataFrame, id_col: str) -> DataFrame:
    """Within-batch exact dedup, shared by all three ingest pipelines:
    exactly ONE row per fingerprint — the min-id one. A single
    per-fingerprint row_number window (one batch-sized shuffle)
    replaces the old groupBy + semi-join, which ALSO let fully
    identical rows (same id and same text — a producer retry inside
    one batch) pass in multiples because every copy matched the keep
    row (r13 review). Ties BEYOND the id (two rows sharing fingerprint
    AND id but differing elsewhere) break on a content hash, not
    shuffle order (r13 advisory)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint").orderBy(
        F.col(id_col), _content_hash(fp)
    )
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_batch_against_registry(
    batch: DataFrame,
    registry_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One incremental-dedup step (static form, unit-testable without a
    stream): returns the batch rows that survive both within-batch and
    against-registry exact dedup, with their ``fingerprint`` attached.
    Does NOT update the registry — callers commit survivors explicitly
    so the read-decide-commit order is theirs to control.

    The registry read is PRUNED: the store buckets by fingerprint hash,
    the batch knows its fingerprints, so only the store buckets the
    batch's fingerprints can live in are scanned — O(batch-touched
    buckets), not O(registry), once ``n_buckets`` is sized to the
    corpus."""
    spark = batch.sparkSession
    fp = batch.withColumn("fingerprint", fingerprint_col(text_col))
    within = _within_batch_exact(fp, id_col)
    meta = upsert.store_meta(registry_path)
    if meta is None:
        return within
    dirty = upsert.bucket_ids_for(
        fp.select("fingerprint"), meta["bucket_cols"], meta["n_buckets"]
    )
    state = upsert.read_state_pruned(spark, registry_path, dirty)
    if state is None:
        return within
    return within.join(
        state.select("fingerprint"), "fingerprint", "left_anti"
    )


def register_fingerprints(
    survivors: DataFrame,
    registry_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> int:
    """Record accepted fingerprints in the registry (idempotent under
    replay: same keys, same seq, same winner)."""
    return upsert.merge_upsert(
        survivors.select(
            "fingerprint",
            F.col(id_col).alias("first_doc_id"),
            F.lit(batch_id).cast("long").alias("seq"),
        ),
        registry_path,
        key_cols=["fingerprint"],
        seq_col="seq",
        n_buckets=n_buckets,
    )


def _maybe_compact_corpus(
    spark, corpus_dir: str, batch_id: int, compact_every: int | None
) -> None:
    """Fold closed ``batch_id=N`` dirs into size-targeted files every
    ``compact_every`` batches — the 24/7 small-files countermeasure
    (None or 0 = never; 0 used to raise ZeroDivisionError inside the
    sink and kill the stream, r13 review).
    Safe here for the same reason as the parity sink: only CLOSED
    batches merge (the max-present id — the only batch an at-least-once
    replay can redeliver — is always left untouched), and the rewrite
    is transactional with crash self-repair."""
    if not compact_every or (batch_id + 1) % compact_every:
        return
    from near_event_streams_spark.sinks.parquet_sink import (
        compact_batch_dirs_inplace,
    )

    compact_batch_dirs_inplace(spark, corpus_dir)


def start_incremental_dedup_ingest(
    stream_df: DataFrame,
    corpus_dir: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    available_now: bool = True,
    vacuum_retain: int | None = 4,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Run the incremental-dedup ingest pipeline over a stream of docs.

    Output layout is ``corpus_dir/batch_id=N/`` with per-batch dynamic
    partition overwrite, so a replayed batch rewrites its own partition
    (effectively-once, same contract as ``job.start_to_parquet``).

    ``vacuum_retain`` prunes superseded registry versions after each
    commit — a 24/7 ingest loop creates one store version per
    micro-batch, so without it registry storage grows without bound
    (pass ``None`` to manage :func:`upsert.vacuum` externally).
    ``compact_every`` additionally folds closed corpus batch dirs into
    size-targeted files every that-many batches (None = never; run
    ``sinks.parquet_sink.compact_batch_dirs_inplace`` out-of-band).
    """
    os.makedirs(os.path.dirname(registry_path) or ".", exist_ok=True)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        survivors = dedup_batch_against_registry(
            batch, registry_path, id_col, text_col
        ).persist()
        try:
            spark = batch.sparkSession
            with partition_overwrite_mode(spark, "dynamic"):
                (
                    survivors.drop("fingerprint")
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(corpus_dir)
                )
            register_fingerprints(
                survivors, registry_path, batch_id, id_col, n_buckets
            )
            if vacuum_retain is not None:
                upsert.vacuum(registry_path, vacuum_retain)
            _maybe_compact_corpus(
                spark, corpus_dir, batch_id, compact_every
            )
        finally:
            survivors.unpersist()

    return run_batches(stream_df, checkpoint_dir, _sink, available_now)


# ---------------------------------------------------------------------------
# Incremental NEAR-dup ingest: exact + MinHash-band dedup vs one registry
# ---------------------------------------------------------------------------
#
# The exact pipeline above catches byte-identical (post-normalization)
# copies across batches; near-copies — the common case in web-scale
# crawl refreshes — were only caught by the next BATCH sweep
# (operators/dedup.py). This pipeline closes that gap: the registry
# additionally stores each accepted doc's MinHash band keys + signature,
# and each micro-batch anti-joins its new docs' band keys before accept.
#
# Registry layout (ONE upsert store, so fp + band rows commit in the
# same atomic manifest swap — no crash window between "exact registered"
# and "bands registered"):
#   kind='fp'   rows: ukey = md5 fingerprint       (exact-dedup probe)
#   kind='band' rows: (band, bucket, ukey=doc_id), sig = array<long>
# key_cols = [kind, band, bucket, ukey]; idempotent under replay because
# every field is a deterministic function of the doc text + batch_id.
#
# Near-dup decision: band-bucket collision (the LSH accept, same
# num_hashes/band_size tuning as operators/dedup.lsh_candidate_pairs)
# FILTERED by the MinHash slot-match estimate >= est_threshold. The
# default 0.5 keeps every genuine near-dup (P[est>=0.5 | jaccard 0.8]
# ~= 0.993 at 16 hashes) and exists to kill ACCIDENTAL bucket
# collisions (random docs estimate ~= 0). Verification is by signature,
# not exact Jaccard — the registry stores 16 longs per doc, never the
# shingle sets, so cross-batch verify stays O(collisions), not
# O(corpus text).
#
# Replay safety (at-least-once foreachBatch, both crash windows):
#   * crash BEFORE the registry commit — replay recomputes the same
#     accepted set (every probe and winner rule is a deterministic
#     function of batch content + an unchanged registry) and the
#     batch_id=N dynamic partition overwrite rewrites identical rows;
#   * crash AFTER the (single, atomic) registry commit — every
#     originally-accepted doc now hits the registry (its own fp row),
#     every originally-dropped doc is dropped again (exact dups match
#     the accepted copy's fp; near dups match either the registered
#     bands or — for a within-batch drop — the still-unregistered
#     smaller doc that also survives to the within-batch stage), so
#     the accepted set replays EMPTY: the empty write touches no
#     partition and the registry upsert is a no-op.
# Proven in tests/test_ingest.py.
#
# Scale: per batch this costs one hash agg (fingerprints), one minhash
# agg over the batch, and joins whose left side is the (small) batch.
# The registry read is BUCKET-PRUNED: the store buckets on the
# (kind, band, bucket) key prefix, fp rows carry a fingerprint-derived
# bucket, and both probe shapes are computable from the batch — so each
# trigger reads O(batch-touched buckets), never O(registry), once
# n_buckets is sized to the corpus (a small batch saturates at
# ~(1 + n_bands) x batch-size distinct buckets).


def neardup_select(
    batch: DataFrame,
    reg_fp: DataFrame | None,
    reg_bands: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    est_threshold: float = 0.5,
    cache: list[DataFrame] | None = None,
) -> DataFrame:
    """The pure exact+near dedup decision (no storage): returns the batch
    rows that survive

    1. within-batch exact dedup (min ``id_col`` per fingerprint wins),
    2. anti-join vs ``reg_fp`` (one column ``fingerprint``) when given,
    3. anti-join vs ``reg_bands`` (``band, bucket, reg_sig``) when
       given — band-bucket collision + signature estimate >=
       ``est_threshold``,
    4. within-batch near dedup: a doc is dropped when ANY smaller-id
       batch doc shares a band bucket with estimate >= threshold
       (greedy, deterministic; the smaller doc's own fate does not
       matter — that independence is what makes crash replay converge).

    Output = batch columns + ``fingerprint`` + ``sig`` (NULL for docs
    with fewer than two words, which carry no near-dup signal and are
    deduped exactly only). Shared by the streaming registry pipeline
    (:func:`neardup_batch_against_registry`) and the driver-gated
    batch-form query (``plans/llm_ops.ingest_neardup_incremental``) so
    the two cannot drift.

    ``cache``: when a list is passed, the twice-plus-consumed
    ``sigs``/``bands`` intermediates are persisted and appended to it —
    the signature pipeline feeds four plan branches (band derivation,
    cross-registry probe, both sides of the within-batch self-join,
    final re-attach) and would otherwise recompute per branch. The
    CALLER owns unpersisting (a 24/7 stream must, or per-batch plans
    accumulate in the cache manager; one-shot batch callers may rely on
    plan-identity cache dedup instead).
    """
    fp = batch.withColumn("fingerprint", fingerprint_col(text_col))
    surv = _within_batch_exact(fp, id_col)
    if reg_fp is not None:
        surv = surv.join(reg_fp, "fingerprint", "left_anti")
    sigs, bands = _sigs_and_bands(
        surv, id_col, text_col, num_hashes, band_size, cache
    )
    return _neardup_decide(
        surv, sigs, bands, reg_bands, id_col, num_hashes, est_threshold
    )


def _sigs_and_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    cache: list[DataFrame] | None,
) -> tuple[DataFrame, DataFrame]:
    sigs = dedup.minhash_sig_array(
        docs, num_hashes, id_col=id_col, text_col=text_col
    )
    if id_col != "doc_id":
        sigs = sigs.withColumnRenamed("doc_id", id_col)
    if cache is not None:
        sigs = sigs.persist()
        cache.append(sigs)
    # band_keys_from_sig expects the doc_id-named signature shape;
    # alias back around it (projections atop the persisted frame, so
    # the cache is still reused). Renaming only BEFORE the call made
    # every non-default id_col crash on the first batch (r13 review —
    # register_batch_neardup already aliased correctly).
    band_src = (
        sigs
        if id_col == "doc_id"
        else sigs.withColumnRenamed(id_col, "doc_id")
    )
    bands = dedup.band_keys_from_sig(band_src, num_hashes, band_size)
    if id_col != "doc_id":
        bands = bands.withColumnRenamed("doc_id", id_col)
    if cache is not None:
        # Cache the band stream ALREADY hash-partitioned on the probe
        # key: InMemoryRelation preserves outputPartitioning, so the
        # cross-registry probe's left side and BOTH sides of the
        # within-batch self-join read the cached partitioning instead
        # of re-shuffling the band stream once per consumer (three
        # (band, bucket) shuffles collapse into this one, paid once at
        # cache fill).
        bands = bands.repartition("band", "bucket").persist()
        cache.append(bands)
    return sigs, bands


def _neardup_decide(
    surv: DataFrame,
    sigs: DataFrame,
    bands: DataFrame,
    reg_bands: DataFrame | None,
    id_col: str,
    num_hashes: int,
    est_threshold: float,
) -> DataFrame:
    """Steps 3-4 of the near-dup decision, shared by the pure and the
    registry-probing forms. ``sigs``/``bands`` may cover a SUPERSET of
    ``surv`` (docs later dropped by the registry fp anti-join): an extra
    band row can only (a) generate a cross-hit for an already-dropped
    doc — harmless under the anti-join — or (b) act as the smaller 'a'
    side of a within-batch drop. Case (b) reaches the same verdict as
    the minimal universe: the extra 'a' is an exact dup of a REGISTERED
    doc, whose signature is identical, so any 'b' it would drop is also
    dropped by the cross-registry probe against that registered doc's
    bands."""
    if reg_bands is not None:
        cross_hits = (
            bands.join(reg_bands, ["band", "bucket"])
            .filter(
                dedup.sig_match_fraction(
                    F.col("sig"), F.col("reg_sig"), num_hashes
                )
                >= est_threshold
            )
            .select(id_col)
            .distinct()
        )
        surv = surv.join(cross_hits, id_col, "left_anti")

    a = bands.select(
        F.col(id_col).alias("_a_id"),
        "band",
        "bucket",
        F.col("sig").alias("_a_sig"),
    )
    b = bands.select(
        F.col(id_col).alias("_b_id"),
        "band",
        "bucket",
        F.col("sig").alias("_b_sig"),
    )
    within_hits = (
        a.join(b, ["band", "bucket"])
        .filter(
            (F.col("_a_id") < F.col("_b_id"))
            & (
                dedup.sig_match_fraction(
                    F.col("_a_sig"), F.col("_b_sig"), num_hashes
                )
                >= est_threshold
            )
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )
    surv = surv.join(within_hits, id_col, "left_anti")
    return surv.join(sigs, id_col, "left")


def neardup_batch_against_registry(
    batch: DataFrame,
    registry_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    est_threshold: float = 0.5,
    cache: list[DataFrame] | None = None,
) -> DataFrame:
    """The same decision as :func:`neardup_select`, probing the
    persistent unified registry with a PRUNED read: the store buckets by
    ``(kind, band, bucket)``, fp rows carry ``bucket =
    xxhash64(fingerprint)``, and both probe key shapes are computable
    from the batch — so only the store buckets the batch's fingerprints
    and band keys can live in are scanned. With ``n_buckets`` sized to
    the corpus, each trigger reads O(batch-touched buckets), never
    O(registry).

    The batch's signatures are computed BEFORE the registry fp
    anti-join (the probe needs the band keys to know which buckets to
    read) — a superset of :func:`neardup_select`'s universe with a
    provably identical accepted set (see :func:`_neardup_decide`).

    Does NOT update the registry — callers commit via
    :func:`register_batch_neardup` so the read-decide-commit order
    stays theirs.
    """
    spark = batch.sparkSession
    fp = batch.withColumn("fingerprint", fingerprint_col(text_col))
    within = _within_batch_exact(fp, id_col)
    sigs, bands = _sigs_and_bands(
        within, id_col, text_col, num_hashes, band_size, cache
    )

    meta = upsert.store_meta(registry_path)
    reg_fp = reg_bands = None
    if meta is not None:
        fp_keys = fp.select(
            F.lit("fp").alias("kind"),
            F.lit(-1).alias("band"),
            F.xxhash64("fingerprint").alias("bucket"),
        )
        band_keys = bands.select(
            F.lit("band").alias("kind"), "band", "bucket"
        )
        dirty = upsert.bucket_ids_for(
            fp_keys.unionByName(band_keys),
            meta["bucket_cols"],
            meta["n_buckets"],
        )
        state = upsert.read_state_pruned(spark, registry_path, dirty)
        if state is not None:
            reg_fp = state.filter(F.col("kind") == "fp").select(
                F.col("ukey").alias("fingerprint")
            )
            reg_bands = state.filter(F.col("kind") == "band").select(
                "band", "bucket", F.col("sig").alias("reg_sig")
            )
    surv = within
    if reg_fp is not None:
        surv = surv.join(reg_fp, "fingerprint", "left_anti")
    return _neardup_decide(
        surv, sigs, bands, reg_bands, id_col, num_hashes, est_threshold
    )


def register_batch_neardup(
    accepted: DataFrame,
    registry_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    n_buckets: int = 16,
) -> int:
    """Record an accepted batch's fingerprints AND band keys in ONE
    atomic registry commit (idempotent under replay: deterministic keys,
    same seq, same winner). ``accepted`` must carry ``fingerprint`` and
    ``sig`` as produced by :func:`neardup_batch_against_registry`.

    Layout: the store buckets on ``(kind, band, bucket)`` — a PREFIX of
    the unique key — and fp rows set ``bucket = xxhash64(fingerprint)``,
    so BOTH probe shapes (full fp key; band key without the stored
    doc_id) can compute their bucket ids and read pruned."""
    fp_rows = accepted.select(
        F.lit("fp").alias("kind"),
        F.lit(-1).alias("band"),
        F.xxhash64("fingerprint").alias("bucket"),
        F.col("fingerprint").alias("ukey"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(None).cast("array<bigint>").alias("sig"),
        F.lit(batch_id).cast("long").alias("seq"),
    )
    sigs = accepted.filter(F.col("sig").isNotNull()).select(
        F.col(id_col).alias("doc_id"), "sig"
    )
    band_rows = dedup.band_keys_from_sig(sigs, num_hashes, band_size).select(
        F.lit("band").alias("kind"),
        F.col("band"),
        F.col("bucket"),
        F.col("doc_id").cast("string").alias("ukey"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("sig"),
        F.lit(batch_id).cast("long").alias("seq"),
    )
    return upsert.merge_upsert(
        fp_rows.unionByName(band_rows),
        registry_path,
        key_cols=["kind", "band", "bucket", "ukey"],
        seq_col="seq",
        n_buckets=n_buckets,
        bucket_cols=["kind", "band", "bucket"],
    )


def start_incremental_neardup_ingest(
    stream_df: DataFrame,
    corpus_dir: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    est_threshold: float = 0.5,
    n_buckets: int = 16,
    available_now: bool = True,
    vacuum_retain: int | None = 4,
    compact_every: int | None = None,
) -> StreamingQuery:
    """24/7 ingest with BOTH exact and near-dup suppression against the
    persistent registry. Same effectively-once corpus contract as
    :func:`start_incremental_dedup_ingest` (``batch_id=N`` dynamic
    partition overwrite); the registry gains band keys in the same
    atomic commit as fingerprints. ``vacuum_retain`` bounds registry
    storage under the one-version-per-micro-batch churn;
    ``compact_every`` folds closed corpus batch dirs (small-files
    countermeasure, transactional, closed batches only)."""
    os.makedirs(os.path.dirname(registry_path) or ".", exist_ok=True)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        cached: list[DataFrame] = []
        accepted = neardup_batch_against_registry(
            batch,
            registry_path,
            id_col,
            text_col,
            num_hashes,
            band_size,
            est_threshold,
            cache=cached,
        ).persist()
        try:
            spark = batch.sparkSession
            with partition_overwrite_mode(spark, "dynamic"):
                (
                    accepted.drop("fingerprint", "sig")
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(corpus_dir)
                )
            register_batch_neardup(
                accepted,
                registry_path,
                batch_id,
                id_col,
                num_hashes,
                band_size,
                n_buckets,
            )
            if vacuum_retain is not None:
                upsert.vacuum(registry_path, vacuum_retain)
            _maybe_compact_corpus(
                spark, corpus_dir, batch_id, compact_every
            )
        finally:
            accepted.unpersist()
            # per-batch plans differ (new source data), so without this
            # a 24/7 stream accumulates one sigs+bands cache entry pair
            # per micro-batch in the cache manager
            for df in cached:
                df.unpersist()

    return run_batches(stream_df, checkpoint_dir, _sink, available_now)


# ---------------------------------------------------------------------------
# Incremental IMAGE ingest: dHash near-dup suppression against the registry
# ---------------------------------------------------------------------------
#
# The multimodal twin of the text pipeline above, with one structural
# simplification the hash affords: a dHash is 8 band BYTES, and two
# hashes within Hamming distance <= 7 MUST share a whole band
# (pigeonhole), so the banded registry probe is EXACT — no separate
# exact-fingerprint row is needed (an exact duplicate is Hamming 0) and
# no estimate-threshold false-negative math applies. Registry rows:
# kind='iband', band=row index, bucket=band value, ukey=str(media_id),
# sig=the full 8-band hash (for the Hamming verify at probe time).
# Bucket pruning: probe keys (kind, band, band_value) are computable
# from the arriving batch alone, so each trigger reads O(touched
# buckets) of the store, never O(registry) — same contract as the text
# path.


def image_neardup_decide(
    hashed: DataFrame,
    reg_bands: DataFrame | None,
    max_hamming: int = 6,
    id_col: str = "media_id",
    n_bands: int = 8,
) -> DataFrame:
    """The accept/reject decision over a dHashed batch
    (``multimodal.dhash_images`` output: ``id_col`` + ``bands``):

    1. cross-registry: drop any image within ``max_hamming`` of a
       registered hash (candidates from shared (band, value) buckets —
       exact for ``max_hamming < n_bands`` by pigeonhole; ``n_bands``
       must equal the dHash band count, ``grid_h``, and the threshold
       is VALIDATED against it — a silently over-wide threshold would
       lose recall, not error). Registry rows whose ``ukey`` equals the
       probing row's OWN id are ignored: an at-least-once replay after
       the registry commit re-probes a batch whose keys are already
       registered, and without self-exclusion every accepted image
       would match itself at Hamming 0, flip to rejected, and the
       replayed ``batch_id=N`` partition overwrite would DELETE the
       originally accepted images from the corpus while leaving them
       registered (r10 advisory). With self-exclusion the replay
       recomputes the identical accepted set and rewrites identical
       files — effectively-once restored;
    2. within-batch: drop ``b`` when a smaller-id ``a`` in the SAME
       batch is within ``max_hamming`` — evaluated over the full batch
       (an ``a`` itself rejected by step 1 still drops its ``b``: both
       duplicate the same registered content, mirroring the text
       pipeline's superset-universe argument in ``_neardup_decide``).
       Replay-stable: on replay a rejected-within-batch ``b`` instead
       matches ``a``'s registered row (ukey ``a`` ≠ ``b``, so not
       self-excluded) — same verdict either way.

    Returns the accepted subset of ``hashed`` (all columns kept).
    """
    from near_event_streams_spark.operators import multimodal

    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} must satisfy 0 <= max_hamming < "
            f"n_bands={n_bands}: the band-bucket join is EXACT only when "
            "Hamming < n_bands (pigeonhole) — a wider threshold silently "
            "loses recall"
        )
    hs = hashed.filter(F.col("bands").isNotNull())
    ex = hs.select(
        F.col(id_col),
        F.col("bands"),
        F.posexplode("bands").alias("band", "band_val"),
    )
    surv = hs
    if reg_bands is not None:
        cross_hits = (
            ex.join(
                reg_bands.select(
                    "band",
                    F.col("bucket").alias("band_val"),
                    F.col("reg_sig"),
                    F.col("reg_ukey"),
                ),
                ["band", "band_val"],
            )
            .filter(
                (F.col("reg_ukey") != F.col(id_col).cast("string"))
                & (
                    multimodal.hamming_distance(
                        F.col("bands"),
                        F.col("reg_sig").cast("array<int>"),
                        n_bands=n_bands,
                    )
                    <= max_hamming
                )
            )
            .select(id_col)
            .distinct()
        )
        surv = surv.join(cross_hits, id_col, "left_anti")
    a = ex.select(
        F.col(id_col).alias("_a_id"),
        "band",
        "band_val",
        F.col("bands").alias("_a_bands"),
    )
    b = ex.select(
        F.col(id_col).alias("_b_id"),
        "band",
        "band_val",
        F.col("bands").alias("_b_bands"),
    )
    within_hits = (
        a.join(b, ["band", "band_val"])
        .filter(
            (F.col("_a_id") < F.col("_b_id"))
            & (
                multimodal.hamming_distance(
                    F.col("_a_bands"), F.col("_b_bands"), n_bands=n_bands
                )
                <= max_hamming
            )
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )
    return surv.join(within_hits, id_col, "left_anti")


def image_neardup_batch_against_registry(
    batch_hashed: DataFrame,
    registry_path: str,
    max_hamming: int = 6,
    id_col: str = "media_id",
    n_bands: int = 8,
) -> DataFrame:
    """:func:`image_neardup_decide` probing the persistent registry
    with a PRUNED read: only the store buckets the batch's (band,
    value) keys can live in are scanned. Carries the registry ``ukey``
    through for the decide step's replay self-exclusion."""
    spark = batch_hashed.sparkSession
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} must satisfy 0 <= max_hamming < "
            f"n_bands={n_bands}: the band-bucket join is EXACT only when "
            "Hamming < n_bands (pigeonhole) — a wider threshold silently "
            "loses recall"
        )
    hs = batch_hashed.filter(F.col("bands").isNotNull())
    reg_bands = None
    meta = upsert.store_meta(registry_path)
    if meta is not None:
        probe_keys = hs.select(
            F.posexplode("bands").alias("band", "band_val")
        ).select(
            F.lit("iband").alias("kind"),
            "band",
            F.col("band_val").cast("long").alias("bucket"),
        )
        dirty = upsert.bucket_ids_for(
            probe_keys, meta["bucket_cols"], meta["n_buckets"]
        )
        state = upsert.read_state_pruned(spark, registry_path, dirty)
        if state is not None:
            reg_bands = state.filter(F.col("kind") == "iband").select(
                "band",
                "bucket",
                F.col("sig").alias("reg_sig"),
                F.col("ukey").alias("reg_ukey"),
            )
    return image_neardup_decide(
        hs, reg_bands, max_hamming, id_col, n_bands
    )


def register_batch_image_neardup(
    accepted_hashed: DataFrame,
    registry_path: str,
    batch_id: int,
    id_col: str = "media_id",
    n_buckets: int = 16,
) -> int:
    """Record an accepted batch's dHash band keys in one atomic,
    replay-idempotent registry commit (deterministic keys, same seq,
    same winner — the :func:`register_batch_neardup` contract)."""
    rows = (
        accepted_hashed.filter(F.col("bands").isNotNull())
        .select(
            F.col(id_col),
            F.col("bands"),
            F.posexplode("bands").alias("band", "band_val"),
        )
        .select(
            F.lit("iband").alias("kind"),
            F.col("band"),
            F.col("band_val").cast("long").alias("bucket"),
            F.col(id_col).cast("string").alias("ukey"),
            F.col(id_col).cast("long").alias("doc_id"),
            F.col("bands").cast("array<bigint>").alias("sig"),
            F.lit(batch_id).cast("long").alias("seq"),
        )
    )
    return upsert.merge_upsert(
        rows,
        registry_path,
        key_cols=["kind", "band", "bucket", "ukey"],
        seq_col="seq",
        n_buckets=n_buckets,
        bucket_cols=["kind", "band", "bucket"],
    )


def image_ingest_sink_body(
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    registry_path: str,
    id_col: str = "media_id",
    max_hamming: int = 6,
    n_buckets: int = 16,
    vacuum_retain: int | None = 4,
    payload_col: str = "payload",
) -> None:
    """One micro-batch of the image-ingest pipeline — module-level so
    the crash-window replay tests drive the EXACT production body (the
    text-path tests replicate their sink inline; after the r10 replay
    advisory the image body is the one whose drift must be caught)."""
    from near_event_streams_spark.operators import multimodal

    hashed = (
        multimodal.dhash_images(
            batch, id_col=id_col, payload_col=payload_col
        )
        .withColumnRenamed("media_id", id_col)
        .persist()
    )
    try:
        accepted = image_neardup_batch_against_registry(
            hashed, registry_path, max_hamming, id_col
        ).persist()
        try:
            spark = batch.sparkSession
            keep_ids = accepted.select(id_col).unionByName(
                hashed.filter(F.col("bands").isNull()).select(id_col)
            )
            # corpus rows are the ORIGINAL batch rows (payload and
            # all), filtered to the accepted + undecodable ids
            # one_row_per_key: an identical image row delivered twice
            # in ONE batch shares its id — both copies survive the
            # semi-join and neither is dropped by the strict
            # _a_id < _b_id within-batch rule (r13 review); the
            # content-hash tie-break keeps replay survivor choice
            # deterministic when one id carries two different
            # payloads (r13 advisory)
            out = one_row_per_key(
                batch.join(keep_ids, id_col, "left_semi"), [id_col]
            )
            with partition_overwrite_mode(spark, "dynamic"):
                (
                    out.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .parquet(corpus_dir)
                )
            register_batch_image_neardup(
                accepted, registry_path, batch_id, id_col, n_buckets
            )
            if vacuum_retain is not None:
                upsert.vacuum(registry_path, vacuum_retain)
        finally:
            accepted.unpersist()
    finally:
        hashed.unpersist()


def start_incremental_image_ingest(
    stream_df: DataFrame,
    corpus_dir: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    max_hamming: int = 6,
    n_buckets: int = 16,
    available_now: bool = True,
    vacuum_retain: int | None = 4,
    payload_col: str = "payload",
) -> StreamingQuery:
    """24/7 image ingest with perceptual near-dup suppression: per
    micro-batch (``foreachBatch``), dHash the payload column
    (``multimodal.dhash_images``), decide against the pruned registry,
    append only accepted images to the corpus sink (``batch_id=N``
    dynamic partition overwrite — the same effectively-once contract
    and crash-window analysis as :func:`start_incremental_dedup_ingest`;
    the registry probe self-excludes a row's own ``ukey``, so an
    at-least-once replay after the registry commit re-accepts its own
    images and rewrites identical files instead of deleting them — see
    :func:`image_neardup_decide`), and commit the new band keys
    atomically. Undecodable payloads are accepted unhashed (NULL
    bands) — suppression applies only to content the decoder
    understands. ``id_col``/``payload_col`` name the stream's columns;
    they're aliased through ``dhash_images``'s fixed schema and back."""
    os.makedirs(os.path.dirname(registry_path) or ".", exist_ok=True)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        image_ingest_sink_body(
            batch,
            batch_id,
            corpus_dir,
            registry_path,
            id_col=id_col,
            max_hamming=max_hamming,
            n_buckets=n_buckets,
            vacuum_retain=vacuum_retain,
            payload_col=payload_col,
        )

    return run_batches(stream_df, checkpoint_dir, _sink, available_now)
