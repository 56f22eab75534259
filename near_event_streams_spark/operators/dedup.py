"""Deduplication operators for large-scale training-data pipelines.

Five strategies, each a composable DataFrame transform:

* **exact** — hash group-by on the raw or normalized text.
* **fingerprint** — MD5 of a normalized prefix key (cheap blocking).
* **n-gram Jaccard** — word-shingle inverted index self-join; exact
  similarity on candidate pairs. O(pairs sharing a shingle) — at 100 TB
  this needs the LSH variant below to bound candidates, which is why both
  exist.
* **MinHash + LSH** — per-doc minhash signature (k independent hash
  slots via seeded xxhash64), banded into buckets; only same-bucket pairs
  are verified with exact Jaccard. Candidate generation is
  O(docs × bands) with a shuffle on (band, bucket-hash) — the 100 TB
  scale path.
* **SimHash** — 16-bit signed-bit-vote signature over word hashes;
  banded for candidate pairs, verified by Hamming distance.

All hashing is Spark-native ``xxhash64`` (JVM, codegen) — deterministic
across runs/partitionings, so results are reproducible cluster-wide.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from near_event_streams_spark.functions.rounding import half_up6_spark

# ---------------------------------------------------------------------------
# shared tokenization (must stay in lockstep with the DuckDB oracle SQL in
# plans/llm_ops.py)
# ---------------------------------------------------------------------------


def words_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def word_bigrams(words: Column) -> Column:
    """Adjacent word pairs (matches DuckDB ``w[i]||' '||w[i+1]`` over
    ``i in 1..len-1``), as a ``zip_with`` of the two shifted slices —
    NOT an index-based ``transform`` + ``element_at``: inside a
    higher-order-function lambda Spark re-evaluates the captured outer
    expression per element, so when ``words`` is an unmaterialized
    ``split(...)`` the index formulation re-runs the regex split for
    EVERY bigram — O(len²) regex work per doc (measured 9.5 s → 1.1 s
    on the 80k-doc skew corpus for the full shingle build). ``zip_with``
    touches each operand array once. Callers should still pass a
    materialized column (``withColumn``) rather than an inline split —
    see :func:`shingle_id_sets`. Empty/1-word docs yield an empty
    array via the empty slices (no guard needed: ``slice(w, 1, 0)``
    is ``[]``)."""
    n1 = F.greatest(F.size(words) - 1, F.lit(0))
    return F.zip_with(
        F.slice(words, 1, n1),
        F.slice(words, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def doc_shingle_ids(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct 64-bit shingle ids per document (xxhash64 of the bigram).

    All pairwise machinery below runs on long ids, not strings — long-array
    intersection and long-key joins are several times cheaper. A 64-bit
    collision between two of the corpus's distinct shingles would be needed
    to change any Jaccard count (P ≈ n_shingles²/2^65 — negligible, and the
    oracle test would catch it deterministically). Words are materialized
    before the bigram/hash chain (see :func:`word_bigrams`).
    """
    return (
        docs.withColumn("_words", words_col(F.col(text_col)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(
                F.array_distinct(
                    F.transform(
                        word_bigrams(F.col("_words")),
                        lambda s: F.xxhash64(s),
                    )
                )
            ).alias("sid"),
        )
        .filter(F.col("sid").isNotNull())
    )


# ---------------------------------------------------------------------------
# exact + fingerprint
# ---------------------------------------------------------------------------


def dedup_exact(
    docs: DataFrame, key: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Group by an exact key; keep min-id representative + group size."""
    return docs.groupBy(key.alias("dedup_key")).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint_prefix(text: Column, n_words: int = 5) -> Column:
    """MD5 of the first-N-words normalized prefix — a cheap blocking key."""
    return F.md5(
        F.array_join(F.slice(words_col(normalized_text(text)), 1, n_words), " ")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------


def shingle_id_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc sorted array of distinct shingle ids + size — computed
    entirely row-local (transform + array_distinct), NO shuffle.

    The input is round-robin repartitioned first: corpus files are often
    few/large, and the per-row hashing work would otherwise run on as few
    cores as there are input splits.

    The words array and the shingle array are each materialized in
    their own projection: ``sz`` references the MATERIALIZED ``sh``
    column instead of repeating the expression tree (which would
    evaluate the whole split→bigram→hash→distinct→sort chain twice per
    row), and the bigram ``zip_with`` reads a materialized ``_words``
    (see :func:`word_bigrams` for the O(len²) re-evaluation trap this
    avoids — the two fixes together took the 80k-doc skew-corpus
    shingle build from ~96 s to ~2 s).
    """
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return (
        spread.withColumn("_words", words_col(F.col(text_col)))
        .withColumn(
            "sh",
            F.sort_array(
                F.array_distinct(
                    F.transform(
                        word_bigrams(F.col("_words")),
                        lambda s: F.xxhash64(s),
                    )
                )
            ),
        )
        .select(
            F.col(id_col).alias("doc_id"),
            "sh",
            F.size("sh").alias("sz"),
        )
    )


def _verify_pairs(
    cands: DataFrame,
    sets: DataFrame,
    threshold: float,
    broadcast_sets: bool | None = None,
    max_broadcast_docs: int = 500_000,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via array_intersect on the per-doc
    shingle arrays (JVM-side set intersection, no second shingle shuffle).

    Join strategy is size-adaptive:

    * small corpus (≤ ``max_broadcast_docs`` docs) — broadcast the doc→set
      map to both join sides; the pair stream never shuffles the arrays.
    * large corpus — the broadcast would OOM the driver/executors at 1B
      docs, so instead shuffle-merge-join the (narrow) pair stream against
      the doc_id-partitioned sets table: the arrays move once per side
      through the shuffle, bounded per-partition, never to the driver.

    ``broadcast_sets=None`` decides from a count of ``sets`` (callers
    persist it, so the count reuses the cached shingle arrays).
    """
    a_sets = sets.select(
        F.col("doc_id").alias("a_doc_id"),
        F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    b_sets = sets.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("sh").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # HALF_UP in exact integer arithmetic (half_up6_spark), not
    # F.round(double, 6): inter/union CAN land on an exact 6dp
    # half-tie (1/640 = 0.0015625 — any union of the form 2^a·5^b),
    # where Spark rounds the decimal rendering and DuckDB rounds the
    # binary value, flipping the last digit vs the oracle and any
    # >= threshold comparison on it (r13 review; the same divergence
    # rounding.py exists for).
    jac = F.expr(half_up6_spark("_inter", "_union"))
    if broadcast_sets is None:
        broadcast_sets = sets.count() <= max_broadcast_docs
    if broadcast_sets:
        # The explicit repartition matters: the candidate stream is only a
        # few MB of (long,long) pairs, so AQE would coalesce it to ~1
        # partition and run the (CPU-heavy) per-pair intersection
        # single-threaded.
        joined = (
            cands.repartition(64, "a_doc_id")
            .join(F.broadcast(a_sets), "a_doc_id")
            .join(F.broadcast(b_sets), "b_doc_id")
        )
    else:
        joined = cands.join(a_sets.hint("merge"), "a_doc_id").join(
            b_sets.hint("merge"), "b_doc_id"
        )
    return (
        joined.withColumn("_inter", inter)
        .withColumn(
            "_union", F.col("sz_a") + F.col("sz_b") - F.col("_inter")
        )
        .select("a_doc_id", "b_doc_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_sets: bool | None = None,
    _sets: DataFrame | None = None,
) -> DataFrame:
    """All doc pairs with shingle-set Jaccard ≥ threshold — EXACT, via
    PPJoin (probe/index prefixes + length + positional filters).

    The naive inverted-index self-join costs Ω(Σ_shingle df²), which
    explodes when common shingles appear in most documents. PPJoin keeps
    the output identical while shrinking the candidate set:

    * **Global token order** = ascending document frequency (rarest
      first), ties by shingle id. Per doc, ``r`` is the token's 1-based
      rank in that order over the FULL set.
    * **Probe prefix** (length |A| − ⌈τ|A|⌉ + 1) joins against the
      shorter **index prefix** (length |B| − ⌈2τ/(1+τ)|B|⌉ + 1); a valid
      pair (J ≥ τ) must collide with the longer-doc side probing — both
      directions are covered because every doc both probes and indexes.
    * **Length filter**: τ·|A| ≤ |B| ≤ |A|/τ, else J < τ by counting.
    * **Positional filter**: a match at ranks (r_a, r_b) bounds the
      overlap by 1 + min(|A|−r_a, |B|−r_b); the pair's earliest common
      token always lies in both prefixes, so if every collision fails
      the bound the pair cannot reach ⌈τ/(1+τ)(|A|+|B|)⌉ overlap.

    All bounds are computed in INTEGER arithmetic on a rational
    approximation of τ (num/den) so no float rounding can over-prune.
    Survivors are verified with exact long-array intersection — output is
    identical to the naive join; only the physical plan changes. Scale:
    candidate generation is a shuffle join on shingle id (parallel,
    no per-bucket quadratic rows); this is the 100 TB exact path and
    minhash_lsh_dedup is the approximate one.
    """
    from pyspark.sql import Window

    # FLOOR, not round: the rational num/den must satisfy
    # num/den <= tau or every integer bound derived from it tightens
    # past the true threshold and the filters over-prune pairs the
    # exact verify would admit (round(2/3 * 10000) = 6667 > tau: a
    # J = 2/3 pair failed the length filter on every collision row,
    # r13 review). Flooring can only loosen the prune by <= 1e-4 —
    # extra candidates, never lost ones; the verify stays exact.
    num = math.floor(threshold * 10000)
    den = 10000

    # sets is referenced again by verification; without persist Spark
    # re-derives the shingle arrays from raw text each time. ``_sets``
    # (r17): invariant-gate queries that run this exact pipeline NEXT
    # TO an LSH pipeline over the SAME corpus pass the one persisted
    # shingle frame instead of paying the split→bigram→hash→distinct
    # build once per pipeline; the caller owns the persist handle.
    sets = (
        _sets
        if _sets is not None
        else shingle_id_sets(docs, id_col, text_col).persist()
    )
    ids = sets.select("doc_id", "sz", F.explode("sh").alias("sid"))
    dfreq = ids.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sid")
    sz = F.col("sz")
    # ⌈num·sz/den⌉ and ⌈2num·sz/(num+den)⌉ via integer ceil-division
    probe_len = sz - F.expr(f"({num}*sz + {den} - 1) div {den}") + 1
    index_len = sz - F.expr(
        f"(2*{num}*sz + {num + den} - 1) div {num + den}"
    ) + 1
    prefix = (
        ids.join(dfreq, "sid")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= probe_len)
        .withColumn("in_index", F.col("r") <= index_len)
        .select("doc_id", "sz", "sid", "r", "in_index")
        .persist()
    )
    probe = prefix.select(
        F.col("doc_id").alias("pa"),
        F.col("sz").alias("sza"),
        "sid",
        F.col("r").alias("ra"),
    )
    index = prefix.filter("in_index").select(
        F.col("doc_id").alias("pb"),
        F.col("sz").alias("szb"),
        "sid",
        F.col("r").alias("rb"),
    )
    # exact per-pair required overlap ⌈num(sza+szb)/(num+den)⌉
    min_overlap = F.expr(
        f"({num}*(sza+szb) + {num + den} - 1) div {num + den}"
    )
    overlap_ub = F.lit(1) + F.least(
        F.col("sza") - F.col("ra"), F.col("szb") - F.col("rb")
    )
    cands = (
        probe.join(index, "sid")
        .filter(F.col("pa") != F.col("pb"))
        .filter(F.lit(num) * F.col("sza") <= F.lit(den) * F.col("szb"))
        .filter(F.lit(num) * F.col("szb") <= F.lit(den) * F.col("sza"))
        .filter(overlap_ub >= min_overlap)
        .select(
            F.least("pa", "pb").alias("a_doc_id"),
            F.greatest("pa", "pb").alias("b_doc_id"),
        )
        .distinct()
    )
    return _verify_pairs(cands, sets, threshold, broadcast_sets)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    min_shingles: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_sets: bool | None = None,
    max_broadcast_docs: int = 500_000,
    max_df: int | None = None,
    _sets: DataFrame | None = None,
) -> DataFrame:
    """ORDERED pairs with shingle-set containment
    ``C(A→B) = |A∩B| / |A| ≥ threshold`` — the superset-duplicate
    detector Jaccard misses: a quote or excerpt wholly contained in a
    much longer doc scores ``J ≈ |A|/|B|`` (arbitrarily low) but
    ``C = 1``. Docs with fewer than ``min_shingles`` shingles are
    excluded on BOTH sides (tiny sets make containment trivially
    noisy).

    Same PPJoin skeleton as :func:`jaccard_pairs`, adapted to the
    asymmetric bound (integer arithmetic on a τ = num/den rational, so
    rounding can never over-prune):

    * required overlap ``need_a = ⌈τ|A|⌉`` depends on the CONTAINED
      side only;
    * **probe prefix**: a's first ``|A| − need_a + 1`` rarest shingles
      — an overlap of ``need_a`` cannot avoid all of them;
    * **index side is the FULL set** (containment has no b-side prefix
      bound — b may be arbitrarily large), with the length filter
      ``|B| ≥ need_a``;
    * **positional filter**: a collision at global-order ranks
      ``(r_a, r_b)`` bounds the overlap by
      ``1 + min(|A|−r_a, |B|−r_b)``; the earliest collision of a valid
      pair always survives it.

    Survivors verify with exact JVM array intersection (size-adaptive
    join, same contract as ``_verify_pairs``). Persist handles
    (``sets``, ``ranked``) are caller-owned (clearCache).

    ``max_df`` (default None = exact) is the hot-shingle headroom knob
    (the text-side analogue of ``neardup_image_pairs(max_bucket=)``):
    shingles whose document frequency exceeds the ceiling are dropped
    from candidate GENERATION — both the probe prefixes and, crucially,
    the full-set inverted index, whose hot rows are this operator's
    dominant skew cost (a df≈n/2 boilerplate shingle contributes ~n/2
    index rows per occurrence stream; the retired scale harness's skew
    appendix planted exactly that, see ``git show
    98af745:BENCH_scale.md``). Precision is untouched (survivors still
    verify on FULL shingle sets); recall loss is confined to pairs
    whose every probe-prefix witness is hot — and because the global
    prefix order is df-ASCENDING, hot shingles are the LAST thing a
    prefix admits, so a pair is lost only when the contained doc has
    fewer than ``|A| − ⌈τ|A|⌉ + 1`` sub-ceiling shingles. Set it from
    the corpus' boilerplate df ceiling, not from the wall-time budget.
    """
    from pyspark.sql import Window

    # FLOOR, not round: the rational num/den must satisfy
    # num/den <= tau or every integer bound derived from it tightens
    # past the true threshold and the filters over-prune pairs the
    # exact verify would admit (round(2/3 * 10000) = 6667 > tau: a
    # J = 2/3 pair failed the length filter on every collision row,
    # r13 review). Flooring can only loosen the prune by <= 1e-4 —
    # extra candidates, never lost ones; the verify stays exact.
    num = math.floor(threshold * 10000)
    den = 10000
    # ``_sets`` (r17): a shared UNFILTERED persisted shingle frame —
    # the min_shingles filter is applied here either way, so results
    # are identical; the caller owns the persist handle.
    sets = (
        _sets.filter(F.col("sz") >= min_shingles)
        if _sets is not None
        else shingle_id_sets(docs, id_col, text_col)
        .filter(F.col("sz") >= min_shingles)
        .persist()
    )
    ids = sets.select("doc_id", "sz", F.explode("sh").alias("sid"))
    dfreq = ids.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sid")
    need = F.expr(f"({num}*sz + {den} - 1) div {den}")
    idf = ids.join(dfreq, "sid")
    if max_df is not None:
        # drop hot rows BEFORE the rank window: df-ascending order means
        # sub-ceiling ranks are unchanged, so probe prefixes keep their
        # rarest-first witnesses; only the hot tail (and its index fan-
        # out) disappears
        idf = idf.filter(F.col("df") <= max_df)
    ranked = idf.withColumn("r", F.row_number().over(w)).persist()
    probe = ranked.filter(F.col("r") <= F.col("sz") - need + 1).select(
        F.col("doc_id").alias("a_doc_id"),
        F.col("sz").alias("sza"),
        "sid",
        F.col("r").alias("ra"),
    )
    index = ranked.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("sz").alias("szb"),
        "sid",
        F.col("r").alias("rb"),
    )
    need_a = F.expr(f"({num}*sza + {den} - 1) div {den}")
    overlap_ub = F.lit(1) + F.least(
        F.col("sza") - F.col("ra"), F.col("szb") - F.col("rb")
    )
    cands = (
        probe.join(index, "sid")
        .filter(F.col("a_doc_id") != F.col("b_doc_id"))
        .filter(F.col("szb") >= need_a)
        .filter(overlap_ub >= need_a)
        .select("a_doc_id", "b_doc_id")
        .distinct()
    )
    return _verify_containment(
        cands, sets, threshold, broadcast_sets, max_broadcast_docs
    )


def _verify_containment(
    cands: DataFrame,
    sets: DataFrame,
    threshold: float,
    broadcast_sets: bool | None = None,
    max_broadcast_docs: int = 500_000,
) -> DataFrame:
    """Exact containment ``|A∩B|/|A|`` for candidate ORDERED pairs via
    JVM array intersection — the asymmetric twin of
    :func:`_verify_pairs`, same size-adaptive join contract."""
    a_sets = sets.select(
        F.col("doc_id").alias("a_doc_id"),
        F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    b_sets = sets.select(
        F.col("doc_id").alias("b_doc_id"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # exact-integer HALF_UP — see _verify_pairs (r13 review)
    cont = F.expr(half_up6_spark("_inter", "sz_a"))
    if broadcast_sets is None:
        broadcast_sets = sets.count() <= max_broadcast_docs
    if broadcast_sets:
        joined = (
            cands.repartition(64, "a_doc_id")
            .join(F.broadcast(a_sets), "a_doc_id")
            .join(F.broadcast(b_sets), "b_doc_id")
        )
    else:
        joined = cands.join(a_sets.hint("merge"), "a_doc_id").join(
            b_sets.hint("merge"), "b_doc_id"
        )
    return (
        joined.withColumn("_inter", inter)
        .select("a_doc_id", "b_doc_id", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def containment_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    min_shingles: int = 5,
    num_probe_slots: int = 8,
    min_slot_hits: int = 5,
    hot_df_fraction: float = 0.05,
    min_df_cap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_sets: bool | None = None,
    max_broadcast_docs: int = 500_000,
    _sets: DataFrame | None = None,
) -> DataFrame:
    """Approximate-candidate containment dedup — the LSH escape hatch
    for :func:`containment_pairs`, whose exact PPJoin must inverted-
    index the FULL contained side (its honest cost outlier at skewed
    scale: 14-20x wall at 16-32x input, ``git show
    98af745:BENCH_scale.md``).

    Candidate generation uses the ONE-SIDED MinHash containment
    estimator instead of symmetric Jaccard banding: slot j of the
    contained doc A is ``argmin over A's pool of xxhash64(j, sid)`` —
    a uniformly random shingle of the pool — and that shingle lies in
    B with probability exactly ``|pool∩B|/|pool|``. Symmetric MinHash
    banding cannot detect a short quote inside a long doc (J = |A|/|B|
    is arbitrarily small, below any fixed band threshold — the
    LSH-Ensemble problem); the one-sided estimator sidesteps the
    size-partition machinery entirely.

    Three precision/robustness levers on top of the raw estimator:

    * **m-of-k slot voting** — a pair becomes a candidate only when ≥m
      of the k slots collide. True pairs at τ=0.9 survive with
      P(Bin(8, 0.9) ≥ 5) ≈ 0.995 (worst-case pool degradation to 0.8:
      ≥ 0.94) while incidental-overlap pairs (containment c ~ 0.05)
      pass at ~10⁻⁵ — a ~150× candidate cut over any-slot-collides on
      corpora with heavy cross-doc vocabulary overlap (measured 3.4M →
      ~20k ordered candidates at sf0.1, 7.0M → 216k at the 16× skew
      stress). The collision rows feed a map-side partial count before
      any exchange, so the raw collision volume never shuffles.
    * **hot-shingle pool** — the probe pool excludes shingles with
      document frequency above ``max(min_df_cap, hot_df_fraction·n)``
      (uniform sampling would pick a 50%-df boilerplate shingle with
      probability k/|A| per doc and fan out df ~ n/2 index rows per
      hit — the quadratic blow-up the skew stress plants). Docs whose
      pool would cover less than HALF their shingles fall back to
      full-set sampling, which keeps the bound analytic: the pool
      covers ≥ |A|/2, so ``C_pool ≥ 1 − 2(1−τ)`` (= 0.8 at τ=0.9).
    * **exact verify** — JVM ``array_intersect`` on surviving pairs
      only (after the ``|B| ≥ ⌈τ|A|⌉`` length filter), so emitted
      pairs are EXACT: approximation affects recall only, never
      precision.

    Recall: a true pair is missed only when fewer than m of k
    independent slots land in B — ``P(Bin(k, C_pool) < m)``, which at
    the defaults (k=8, m=5) is ≈ 5.0×10⁻³ at C_pool = τ = 0.9 and
    ≈ 0.056 at the C_pool = 0.8 worst-case pool degradation (the two
    numbers the 0.995 / 0.94 survive probabilities above complement;
    pinned by ``tests/test_dedup_property.py::test_recall_bound_math``).
    FULL containment (C=1, the excerpt-in-superset class this detector
    exists for) is caught DETERMINISTICALLY: pool ⊆ A ⊆ B, so every
    slot collides.

    Cost shape vs the exact PPJoin: probe k rows per doc (vs
    ~(1−τ)·|A|+1 prefix rows), no per-doc rank window (the dfreq
    groupBy remains, but feeds a bounded conditional-agg, not a
    row_number over the full shingle stream); index |B| RAW shingle
    rows joined on the probe slots' argmin shingle ids (r14
    slot-argmin scheme — an 8× index-row cut over the former
    k·(slot, hash) explode; the inline comment at the candidate join
    carries the oracle-equivalence argument and the sf0.1 A/B).
    Returns verified ORDERED
    ``(a_doc_id, b_doc_id, containment)``. ``sets`` persist handle is
    caller-owned (clearCache)."""
    if not 1 <= min_slot_hits <= num_probe_slots:
        raise ValueError(
            f"containment_lsh_pairs: min_slot_hits={min_slot_hits} must "
            f"be in [1, num_probe_slots={num_probe_slots}] — a larger "
            "vote threshold than slots silently yields ZERO recall"
        )
    # FLOOR, not round: the rational num/den must satisfy
    # num/den <= tau or every integer bound derived from it tightens
    # past the true threshold and the filters over-prune pairs the
    # exact verify would admit (round(2/3 * 10000) = 6667 > tau: a
    # J = 2/3 pair failed the length filter on every collision row,
    # r13 review). Flooring can only loosen the prune by <= 1e-4 —
    # extra candidates, never lost ones; the verify stays exact.
    num = math.floor(threshold * 10000)
    den = 10000
    k = num_probe_slots
    # ``_sets`` (r17): shared unfiltered persisted shingle frame — see
    # :func:`containment_pairs`; the filter keeps results identical.
    sets = (
        _sets.filter(F.col("sz") >= min_shingles)
        if _sets is not None
        else shingle_id_sets(docs, id_col, text_col)
        .filter(F.col("sz") >= min_shingles)
        .persist()
    )
    n_docs = sets.count()
    if broadcast_sets is None:
        broadcast_sets = n_docs <= max_broadcast_docs
    df_cap = max(min_df_cap, int(hot_df_fraction * n_docs))
    ids = sets.select("doc_id", "sz", F.explode("sh").alias("sid"))
    dfreq = ids.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    # r17 (guide §3.2): the slot aggregate only needs to KNOW WHICH
    # shingles are hot, not every shingle's df — so instead of joining
    # the full dfreq table back onto the raw shingle stream (an
    # exchange of the whole exploded stream on sid, plus dfreq's own,
    # and at corpus scale dfreq outgrows any broadcast threshold and
    # the join degrades to a full sort-merge), broadcast the HOT SET
    # as a left-join blacklist. Its size is bounded BY CONSTRUCTION at
    # any corpus size: Σ_sid df = S (the total shingle stream), so
    # #hot ≤ S/df_cap ≤ S/(hot_df_fraction·n_docs) =
    # avg_shingles_per_doc/hot_df_fraction — ~20× the mean doc size in
    # entries at the 0.05 default, INDEPENDENT of corpus row count.
    # The stream then flows scan→probe→partial-agg with no exchange
    # before the per-doc slot aggregate.
    hot = dfreq.filter(F.col("df") > df_cap).select(
        "sid", F.lit(True).alias("_hot")
    )
    idf = ids.join(F.broadcast(hot), "sid", "left")
    rare = F.col("_hot").isNull()
    # Slot j keeps the ARGMIN SHINGLE ID (min over the pool of the
    # struct (salted hash, sid) — deterministic under hash ties), not
    # the min hash VALUE. Candidates then join the probe's k argmin
    # ids against the RAW shingle stream — 1 index row per (doc,
    # shingle) instead of k (slot, hash) rows, an 8x index-row cut at
    # the defaults, and a narrower single-long join key (r13 verdict
    # #3). A/B at sf0.1: on the SHUFFLE-JOIN path (broadcast_sets=
    # False — what runs past the broadcast bound, i.e. at scale) the
    # cut is the whole index-side exchange volume: steady 12.0-13.0 s
    # -> 7.8-8.2 s (~-35%, identical 510 pairs); on the broadcast
    # path the index stream never shuffles and the A/B is wall-
    # neutral (solo medians 3.74/4.07/4.33 -> 3.92/4.16/4.44, within
    # box noise), so the switch is free locally and wins at scale.
    # ORACLE EQUIVALENCE: slot j collides in the old scheme iff
    # H_j(s') == min_pool H_j for some s' in B, i.e. iff (i) the
    # argmin shingle itself is in B — exactly the new scheme's join —
    # or (ii) a 64-bit hash collision H_j(s') == H_j(argmin) with
    # s' != argmin (probability <= |B|·2^-64 per slot). So new
    # candidates ⊆ old candidates, the difference carrying only
    # measure-2^-64 accidental hits; the analytic recall bound
    # P(Bin(k, C_pool) >= m) counts event (i) ONLY, so the documented
    # recall floor is unchanged, and the exact array_intersect verify
    # makes precision identical by construction. On collision-free
    # corpora (any real fixture) the emitted pairs are IDENTICAL.
    aggs = []
    for j in range(k):
        h = F.xxhash64(F.lit(j), F.col("sid"))
        pick = F.struct(h.alias("h"), F.col("sid").alias("sid"))
        aggs.append(F.min(F.when(rare, pick)).alias(f"r{j}"))
        aggs.append(F.min(pick).alias(f"f{j}"))
    aggs.append(F.sum(rare.cast("int")).alias("n_rare"))
    slot_mins = idf.groupBy("doc_id", "sz").agg(*aggs)
    use_rare = F.col("n_rare") * 2 >= F.col("sz")
    probe = slot_mins.select(
        F.col("doc_id").alias("a_doc_id"),
        F.col("sz").alias("sza"),
        F.explode(
            F.array(
                *[
                    F.when(use_rare, F.col(f"r{j}"))
                    .otherwise(F.col(f"f{j}"))
                    .getField("sid")
                    .alias("v")
                    for j in range(k)
                ]
            )
        ).alias("v"),
    )
    index = ids.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("sz").alias("szb"),
        F.col("sid").alias("v"),
    )
    need_a = F.expr(f"({num}*sza + {den} - 1) div {den}")
    # The probe table is n·k narrow rows — broadcast it for corpora
    # that fit (the index stream then never shuffles; collision rows
    # are generated in-stage and partially aggregated before the only
    # exchange, the (a,b) vote). Past the broadcast bound the plain
    # shuffle join keeps the same property: partial agg runs before
    # the exchange, so raw collisions still never shuffle. Two slots
    # of one probe doc may share an argmin shingle (small pools);
    # each is its own probe row, so the vote still counts per-slot
    # hits exactly as the (slot, hash) formulation did.
    probe_side = F.broadcast(probe) if broadcast_sets else probe
    cands = (
        probe_side.join(index, ["v"])
        .filter(F.col("a_doc_id") != F.col("b_doc_id"))
        .filter(F.col("szb") >= need_a)
        .groupBy("a_doc_id", "b_doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_slot_hits)
        .select("a_doc_id", "b_doc_id")
    )
    return _verify_containment(
        cands, sets, threshold, broadcast_sets, max_broadcast_docs
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingle_ids: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """k minhash slots per doc: slot j = min over shingle ids of the
    j-salted rehash. One shuffle (groupBy doc_id); each slot is a map-side
    partial min over long keys."""
    aggs = [
        F.min(F.xxhash64(F.lit(j), F.col("sid"))).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return shingle_ids.groupBy("doc_id").agg(*aggs)


def _check_banding(num_hashes: int, band_size: int, who: str) -> None:
    """num_hashes must split into whole bands: leftover signature slots
    are computed but never influence any bucket (recall silently below
    the (n, b) S-curve the caller designed for), and band_size >
    num_hashes crashes downstream with an empty band list (r13
    review)."""
    if band_size < 1 or band_size > num_hashes:
        raise ValueError(
            f"{who}: band_size={band_size} must be in "
            f"[1, num_hashes={num_hashes}]"
        )
    if num_hashes % band_size != 0:
        raise ValueError(
            f"{who}: num_hashes={num_hashes} not divisible by "
            f"band_size={band_size} — the {num_hashes % band_size} "
            "leftover hash slots would never be banded"
        )


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """Band the signature; docs sharing any (band, band-hash) bucket become
    candidate pairs via a self-join on the bucket key.

    The join (not per-bucket in-row pair expansion) matters at scale: a
    hot bucket — thousands of mutual near-dups sharing a band hash — is
    spread across shuffle partitions and AQE's skew splitting, instead of
    materializing d²/2 pairs inside one row in one task. The bucket table
    is persisted so the minhash pipeline isn't recomputed per join side."""
    _check_banding(num_hashes, band_size, "lsh_candidate_pairs")
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"h{j}") for j in range(b * band_size, (b + 1) * band_size)]
        bands.append(
            signatures.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.xxhash64(*cols).alias("bucket"),
            )
        )
    buckets = bands[0]
    for extra in bands[1:]:
        buckets = buckets.unionByName(extra)
    buckets = buckets.persist()
    a = buckets.select(F.col("doc_id").alias("a_doc_id"), "band", "bucket")
    b_ = buckets.select(F.col("doc_id").alias("b_doc_id"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("a_doc_id") < F.col("b_doc_id"))
        .select("a_doc_id", "b_doc_id")
        .distinct()
    )


def minhash_sig_array(
    docs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, sig: array<long>)`` — the minhash signature as a single
    array column, the portable form a persistent registry stores (the
    wide ``h0..hk`` layout of :func:`minhash_signatures` is join-friendly
    but schema-brittle across ``num_hashes`` changes).

    Docs with fewer than two words have no bigram shingles and are
    ABSENT from the output — they carry no near-dup signal and callers
    must fall back to exact dedup for them.

    The input is round-robin repartitioned first (same rationale as
    :func:`shingle_id_sets`: corpus files are often few/large, and the
    per-row hashing would otherwise run on as few cores as there are
    input splits), then shingles explode DIRECTLY from the transform —
    not from a pre-built array column, whose generator input Spark may
    recompute per output row (measured 10x slower at sf0.1).
    """
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    sh = doc_shingle_ids(spread, id_col, text_col)
    wide = minhash_signatures(sh, num_hashes)
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig"),
    )


def band_keys_from_sig(
    sigs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    sig_col: str = "sig",
) -> DataFrame:
    """``(doc_id, band, bucket, sig)`` — the LSH band/bucket keys derived
    from an array-form signature. ``bucket`` hashes the band's slots with
    the same ``xxhash64(slot, slot, ...)`` as :func:`lsh_candidate_pairs`
    hashes its wide columns, so array- and wide-form pipelines land in
    identical buckets."""
    _check_banding(num_hashes, band_size, "band_keys_from_sig")
    n_bands = num_hashes // band_size
    rows = []
    for b in range(n_bands):
        slots = [
            F.element_at(F.col(sig_col), j + 1)
            for j in range(b * band_size, (b + 1) * band_size)
        ]
        rows.append(
            sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.xxhash64(*slots).alias("bucket"),
                F.col(sig_col).alias("sig"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def sig_match_fraction(a: Column, b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard between two docs = fraction of matching minhash
    slots (the standard unbiased MinHash estimator; granularity
    1/num_hashes). Pure ``zip_with`` + ``aggregate`` — JVM-side, no UDF."""
    matches = F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches.cast("double") / float(num_hashes)


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    band_size: int = 4,
    broadcast_sets: bool | None = None,
    _sets: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: shingle → minhash → LSH buckets → exact-Jaccard verify
    of candidates only. Returns verified (a_doc_id, b_doc_id, jaccard).
    ``_sets`` (r17): shared persisted shingle frame — see
    :func:`jaccard_pairs`; the caller owns the persist handle."""
    sets = _sets if _sets is not None else shingle_id_sets(docs).persist()
    sh = sets.select("doc_id", F.explode("sh").alias("sid"))
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes), num_hashes, band_size
    )
    # verify candidates with exact jaccard via per-doc shingle-id arrays
    # (bounded by candidate count, not all pairs)
    return _verify_pairs(cands, sets, threshold, broadcast_sets)


# ---------------------------------------------------------------------------
# Connected components (cluster collapse over near-dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    a_col: str = "a_doc_id",
    b_col: str = "b_doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation over an undirected edge list → per-node
    component id (the minimum node id in the component).

    This is the step a curation pipeline needs AFTER pair generation:
    near-dup pairs form clusters (often chains A~B~C where A~C was never
    emitted), and keep-one-per-cluster requires the transitive closure,
    not the pair list.

    Iterative Spark algorithm done right:
    * each iteration is one shuffle (propagate labels across edges +
      min-aggregate) — fully distributed; the driver holds only the
      converged flag, never data;
    * ``localCheckpoint`` truncates the lineage each round, otherwise the
      plan doubles per iteration and the optimizer chokes by iteration ~15;
    * iterations needed = component diameter (near-dup clusters are tiny;
      the ``max_iter`` guard is for adversarial chains).
    """
    # r17: the edge cache is hash-partitioned on the per-superstep join
    # key (``nbr``) — ``distinct`` leaves it partitioned on the PAIR,
    # so every iteration used to re-shuffle the full edge list to join
    # the label vector; now only the O(nodes) labels move per round
    # (the pagerank/label_propagation contract, guide §2.4).
    from near_event_streams_spark.operators.graph import (
        GRAPH_MAX_BROADCAST_NODES,
        _edge_cache_partitions,
    )

    nparts_conf = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # r17: the distinct directed edge set is persisted and counted
    # first so the per-superstep cache partition count derives from the
    # measured edge count (graph._edge_cache_partitions — fewer, larger
    # map tasks keep the per-iteration partial aggregation effective);
    # the O(nodes) label vector then broadcasts into each iteration's
    # join when the edge count bounds it (nodes <= 2*edges), the same
    # deliberate gate as pagerank/label_propagation.
    base = (
        edges.select(
            F.col(a_col).alias("node"), F.col(b_col).alias("nbr")
        )
        .unionByName(
            edges.select(
                F.col(b_col).alias("node"), F.col(a_col).alias("nbr")
            )
        )
        .distinct()
        .persist()
    )
    n_sym = base.count()
    nparts = _edge_cache_partitions(n_sym, nparts_conf)
    bcast_vec = n_sym <= 2 * GRAPH_MAX_BROADCAST_NODES
    sym = base.repartition(nparts, "nbr").persist()
    # LAZY checkpoints (r17, the BPE/pagerank lesson): the plan is
    # truncated identically, but materialization folds into the next
    # job that consumes the frame — here the per-iteration `_changed`
    # count — instead of each checkpoint being its own job.
    labels = (
        sym.groupBy("node")
        .agg(F.least(F.min("nbr"), F.first("node")).alias("comp"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # candidate labels: own label + the label of every neighbor
        lv = labels.withColumnRenamed("node", "nbr").withColumnRenamed(
            "comp", "nbr_comp"
        )
        nbr_labels = (
            sym.join(
                F.broadcast(lv) if bcast_vec else lv,
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_comp").alias("min_nbr_comp"))
        )
        # the convergence flag rides INSIDE the checkpointed frame
        # (min-label strictly decreases, so changed ⇔ a neighbor label
        # undercut ours): the former old-vs-new full join per
        # iteration re-shuffled both label vectors just to detect
        # convergence — now it is a filter/limit scan of rows already
        # materialized by the checkpoint (r17, guide §2.4)
        new_labels = (
            labels.join(nbr_labels, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("min_nbr_comp", "comp")
                ).alias("comp"),
                (
                    F.coalesce("min_nbr_comp", "comp") < F.col("comp")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        # this count is the job that materializes the lazy checkpoint
        # (limit(1) short-circuits per partition but still computes
        # every partition, so the checkpoint is complete afterwards)
        changed = new_labels.filter("_changed").limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    # NOTE: base stays persisted (same caller-owned contract as the
    # graph operators' edge caches) — unpersisting it here would force
    # a same-session re-invocation to re-run the full upstream pair
    # pipeline just to re-derive the sizing count.
    sym.unpersist()
    return labels.select("node", F.col("comp").alias("component"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Signed-bit-vote simhash over distinct words (xxhash64 word hashes).

    32 bits: enough to separate merely-similar bags of words (which this
    corpus is full of) from true near-duplicates; 16 bits collapses."""
    tokens = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).distinct()
    hashed = tokens.select("doc_id", F.xxhash64("w").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    sig = F.lit(0)
    for i in range(bits):
        sig = sig + F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(0)
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def duplicated_ngram_stats(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication profile (the ExactSubstr-dedup signal,
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better"): per document, the fraction of its positional word
    ``n``-grams that also occur in at least one OTHER document. High
    fractions mark boilerplate / templated / copied passages that
    survive document-level dedup.

    Plan: positional n-grams (duplicates within a doc kept — spans, not
    a set) explode once; one hash aggregation on the gram key computes
    each gram's distinct-doc count; the stats join back on the gram key
    and reduce per doc. Two shuffles, both on keys with bounded fan-out;
    no pairwise comparisons anywhere, so this scales linearly where a
    pair-join formulation would be quadratic.
    """
    # words materialized first — an inline split captured by the
    # transform lambda would re-run the regex per gram (see
    # word_bigrams for the O(len²) trap)
    w = F.col("_w")
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.withColumn(
        "_w", words_col(F.lower(F.col(text_col)))
    ).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(
            F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))
        ).alias("gram"),
    )
    gram_docs = (
        grams.filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    return (
        grams.join(gram_docs, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("gram")).alias("n_grams"),
            F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_fraction",
            # exact integer HALF_UP (functions/rounding.half_up6_*)
            F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                F.expr(half_up6_spark("n_dup_grams", "n_grams"))
            ),
        )
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicate-span REMOVAL
# ---------------------------------------------------------------------------


def remove_duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove corpus-wide duplicated token spans, keeping only the first
    occurrence — the *removal* half of ExactSubstr dedup (the companion
    of ``duplicated_ngram_stats``, which only profiles the signal).

    Each document's whitespace tokens are partitioned into consecutive
    non-overlapping spans of ``span_tokens`` (the last span may be
    short). A span text that occurs more than once anywhere in the
    corpus — in another document or earlier in the same document —
    survives only at its first occurrence, ordered by ``(doc_id,
    span_idx)``; every later occurrence is cut, and each document is
    reassembled from its surviving spans in order. An exact copy of an
    earlier document comes back as the empty string.

    Plan shape at 100 TB: tokenize+span-split is a narrow map; the
    first-occurrence decision is ONE shuffle on the span-text key
    (a partitioned ``row_number`` window — groups are per-span-text, so
    no global ordering bottleneck); reassembly is one more hash
    aggregation on ``doc_id``. No pair joins, no cartesian anywhere —
    cost is linear in corpus tokens, which is what makes ExactSubstr
    runnable where pairwise dedup is not.

    Reference parity: the reference has no dedup surface (its 16
    operators are streaming ETL, src/*.rs); this family is the
    training-pipeline extension mandated by the build brief.
    """
    from pyspark.sql.window import Window

    # words materialized first (inline split captured by the transform
    # lambda re-runs the regex per span — the word_bigrams trap).
    # NULL text coalesces to "" BEFORE the split: size(null) is -1
    # (non-ANSI), making n_spans=0 and sequence(0,-1) a DESCENDING
    # [0,-1] — two phantom null spans — while under ANSI the doc
    # silently vanished from a transform documented to reassemble
    # every doc (r13 review). split(trim("")) is [""], so a null-text
    # doc now behaves exactly like an empty-text doc: one "" span,
    # reassembled to "".
    w = F.col("_w")
    n_spans = F.floor((F.size(w) + span_tokens - 1) / F.lit(span_tokens))
    spans = docs.withColumn(
        "_w", words_col(F.coalesce(F.col(text_col), F.lit("")))
    ).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(w, i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("span_idx", "span_text"),
    )
    first = Window.partitionBy("span_text").orderBy("doc_id", "span_idx")
    marked = spans.withColumn("occ", F.row_number().over(first)).withColumn(
        "kept", F.col("occ") == 1
    )
    pieces = F.array_sort(
        F.collect_list(F.struct("span_idx", "kept", "span_text"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(pieces.alias("pieces"))
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter(F.col("pieces"), lambda p: p["kept"]),
                    lambda p: p["span_text"],
                ),
                " ",
            ).alias("clean_text"),
            F.size("pieces").cast("int").alias("n_spans"),
            F.size(
                F.filter(F.col("pieces"), lambda p: ~p["kept"])
            ).cast("int").alias("n_spans_removed"),
        )
    )
