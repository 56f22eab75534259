"""Per-batch dedup decisions for incremental corpus ingestion.

The batch dedup operators (``operators/dedup.py``) answer "which of
THESE docs duplicate each other"; incremental ingestion asks "which of
these NEW docs duplicate anything already accepted". This module holds
the static per-batch steps that answer it, called by the registry
queries (``plans/llm_ops.py``) and the ANN-index ingest sink
(``streaming/ann_ingest.py``):

* fingerprint = md5 of whitespace-normalized lowercase text (the same
  normalization as ``dedup.normalized_text`` — deterministic,
  engine-portable, 16 bytes/doc regardless of doc size);
* :func:`neardup_select`: exact + MinHash near-dup dedup of a batch
  against registry frames the caller supplies;
* :func:`image_neardup_batch_against_registry` and
  :func:`register_batch_image_neardup`: dHash near-dup dedup against a
  registry kept in the bucket-pruned merge-upsert store
  (``streaming/upsert.py``), whose reads prune to the buckets a batch
  touches and whose commits are replay-idempotent;
* :func:`one_row_per_key` and :func:`_maybe_compact_corpus`: the
  deterministic per-key survivor and the closed-batch folding the ANN
  ingest sink uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from near_event_streams_spark.operators import dedup
from near_event_streams_spark.operators.dedup import normalized_text
from near_event_streams_spark.streaming import upsert


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
    commit a DIFFERENT row than the original run (the ANN ingest
    sink's retrain corpus relies on this, r13 advisory). One per-key row_number window — the same shuffle
    ``dropDuplicates`` pays."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(_content_hash(df))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _within_batch_exact(fp: DataFrame, id_col: str) -> DataFrame:
    """Within-batch exact dedup for :func:`neardup_select`:
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


# ---------------------------------------------------------------------------
# Exact + MinHash-band near-dup decision
# ---------------------------------------------------------------------------
#
# Exact dedup catches byte-identical (post-normalization) copies;
# near-copies, the common case in web-scale crawl refreshes, need the
# MinHash bands. Near-dup decision: band-bucket collision (the LSH
# accept, same num_hashes/band_size tuning as
# operators/dedup.lsh_candidate_pairs) FILTERED by the MinHash
# slot-match estimate >= est_threshold. The default 0.5 keeps every
# genuine near-dup (P[est>=0.5 | jaccard 0.8] ~= 0.993 at 16 hashes) and
# exists to kill ACCIDENTAL bucket collisions (random docs estimate
# ~= 0). Verification is by signature, not exact Jaccard — a registry
# needs 16 longs per doc, never the shingle sets, so cross-batch verify
# stays O(collisions), not O(corpus text).


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
       matter).

    Output = batch columns + ``fingerprint`` + ``sig`` (NULL for docs
    with fewer than two words, which carry no near-dup signal and are
    deduped exactly only). The driver-gated queries
    ``plans/llm_ops.ingest_neardup_select`` and
    ``ingest_neardup_incremental`` run it against registry frames built
    from an already-ingested corpus.

    ``cache``: when a list is passed, the twice-plus-consumed
    ``sigs``/``bands`` intermediates are persisted and appended to it —
    the signature pipeline feeds four plan branches (band derivation,
    cross-registry probe, both sides of the within-batch self-join,
    final re-attach) and would otherwise recompute per branch. The
    CALLER owns unpersisting (a caller deciding batch after batch must,
    or per-batch plans accumulate in the cache manager; one-shot batch
    callers may rely on plan-identity cache dedup instead).
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
    # every non-default id_col crash on the first batch (r13 review).
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
    """Steps 3-4 of :func:`neardup_select`: the cross-registry band
    probe, then the within-batch greedy drop."""
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


# ---------------------------------------------------------------------------
# IMAGE near-dup suppression: dHash bands against a persistent registry
# ---------------------------------------------------------------------------
#
# The multimodal twin of the text decision above, with one structural
# simplification the hash affords: a dHash is 8 band BYTES, and two
# hashes within Hamming distance <= 7 MUST share a whole band
# (pigeonhole), so the banded registry probe is EXACT — no separate
# exact-fingerprint row is needed (an exact duplicate is Hamming 0) and
# no estimate-threshold false-negative math applies. Registry rows:
# kind='iband', band=row index, bucket=band value, ukey=str(media_id),
# sig=the full 8-band hash (for the Hamming verify at probe time).
# Bucket pruning: probe keys (kind, band, band_value) are computable
# from the arriving batch alone, so each trigger reads O(touched
# buckets) of the store, never O(registry).


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
       probing row's OWN id are ignored: a batch re-probed after its
       own registry commit (a replay) would otherwise match itself at
       Hamming 0 and flip every accepted image to rejected (r10
       advisory). With self-exclusion the replay recomputes the
       identical accepted set;
    2. within-batch: drop ``b`` when a smaller-id ``a`` in the SAME
       batch is within ``max_hamming`` — evaluated over the full batch
       (an ``a`` itself rejected by step 1 still drops its ``b``: both
       duplicate the same registered content).
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
    same winner)."""
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
