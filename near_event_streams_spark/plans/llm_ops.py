"""LLM-data-pipeline query surface: dedup, similarity, text, multimodal.

Oracle-gated wherever the computation is SQL-expressible in DuckDB with
bit-identical results. Approximate/hash-based operators (MinHash-LSH,
SimHash, hyperplane-LSH/IVF ANN) are gated via engine-local invariants:
each engine computes its OWN approximate result plus the exact baseline,
and emits the exact summary plus recall/precision/locality booleans the
oracle pins TRUE — so the driver hash catches both exact-side drift and
approximate-side quality loss. The raw pair/top-k lists stay available
as ``*_pairs``/``*_detail`` functions (tested in tests/test_llm_ops.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from near_event_streams_spark.operators import dedup, multimodal, similarity, text
from near_event_streams_spark.streaming import ingest
from near_event_streams_spark.plans._common import (
    half_up6_duck,
    half_up6_spark,
    half_up_signed_duck,
    half_up_signed_spark,
)
from near_event_streams_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# dedup family
# --------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(
        docs, dedup.normalized_text(F.col("text"))
    ).select("dedup_key", "keep_doc_id", "n_copies")


DEDUP_EXACT_SQL = """
SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS dedup_key,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = dedup.fingerprint_prefix(F.col("text"), n_words=5)
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .filter(F.col("n_docs") >= 1)
    )


DEDUP_FINGERPRINT_SQL = """
WITH norm AS (
  SELECT doc_id, lang,
         string_split_regex(trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), '\\s+') AS w
  FROM documents
)
SELECT md5(array_to_string(w[1:5], ' ')) AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs
FROM norm
GROUP BY 1
"""


def dedup_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, threshold=0.8).orderBy(
        "a_doc_id", "b_doc_id"
    )


# jaccard/containment round via the exact-integer HALF_UP expansion
# (half_up6_duck literal): ROUND(double, 6) diverges from Spark on
# exact 6dp half-ties like inter/union = 1/640 (r13 review)
_JACCARD_EXACT_PAIRS_CTE = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS shingle
  FROM words, unnest(range(1, len(w))) t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), true_pairs AS (
  SELECT a_doc_id, b_doc_id,
         CAST(CAST((CAST(inter AS HUGEINT)*2000000 + (sa.sz + sb.sz - inter)) // (2*(sa.sz + sb.sz - inter)) AS BIGINT) AS DOUBLE)/1000000.0 AS jaccard
  FROM pairs
  JOIN sizes sa ON a_doc_id = sa.doc_id
  JOIN sizes sb ON b_doc_id = sb.doc_id
  WHERE CAST(CAST((CAST(inter AS HUGEINT)*2000000 + (sa.sz + sb.sz - inter)) // (2*(sa.sz + sb.sz - inter)) AS BIGINT) AS DOUBLE)/1000000.0 >= 0.8
)
"""

DEDUP_JACCARD_SQL = (
    _JACCARD_EXACT_PAIRS_CTE
    + """
SELECT a_doc_id, b_doc_id, jaccard FROM true_pairs
ORDER BY a_doc_id, b_doc_id
"""
)


def dedup_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Superset-duplicate detection (``dedup.containment_pairs``):
    ordered pairs where ≥90% of doc A's bigram shingles appear in doc B
    — the excerpt/quote-expansion dup class Jaccard misses (C(A→B)=1
    while J=|A|/|B| is arbitrarily low). PPJoin prefix/length/positional
    filters adapted to the asymmetric bound; exact array-intersect
    verify; oracle recomputes all pairs exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, threshold=0.9, min_shingles=5
    ).orderBy("a_doc_id", "b_doc_id")


DEDUP_CONTAINMENT_SQL = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS shingle
  FROM words, unnest(range(1, len(w))) t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT a_doc_id, b_doc_id,
       CAST(CAST((CAST(inter AS HUGEINT)*2000000 + (sa.sz)) // (2*(sa.sz)) AS BIGINT) AS DOUBLE)/1000000.0 AS containment
FROM pairs
JOIN sizes sa ON a_doc_id = sa.doc_id
JOIN sizes sb ON b_doc_id = sb.doc_id
WHERE sa.sz >= 5 AND sb.sz >= 5
  AND CAST(CAST((CAST(inter AS HUGEINT)*2000000 + (sa.sz)) // (2*(sa.sz)) AS BIGINT) AS DOUBLE)/1000000.0 >= 0.9
ORDER BY a_doc_id, b_doc_id
"""


def dedup_containment_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-candidate containment dedup
    (``dedup.containment_lsh_pairs``): one-sided MinHash slots of the
    contained doc (each a uniformly random shingle, in the superset
    with probability = containment) generate candidates — no
    document-frequency ranking, no full-set inverted index — then
    exact array-intersect verify. Gated like ``dedup_minhash_lsh_docs``
    by engine-local invariants: Spark computes the LSH pair set AND
    the exact ``containment_pairs`` ground truth, emits the exact-pair
    count plus recall/precision booleans; DuckDB recomputes the exact
    count and pins the booleans TRUE. Recall bound is analytic —
    a true pair misses only when fewer than 5 of 8 independent probe
    slots land in the superset: P(Bin(8, C_pool) < 5) ≈ 5.0e-3 at
    C_pool = τ = 0.9 (≈ 0.056 at the 0.8 worst-case pool
    degradation), and C=1 pairs (the excerpt-in-superset class)
    collide deterministically — so the 0.9-recall invariant has
    slack."""
    docs = load_table(spark, sf_dir, "documents")
    # r17: share one persisted shingle frame between the LSH pipeline
    # and its exact ground-truth twin, and persist both pair sets for
    # the multi-reference tail — same rationale as
    # dedup_minhash_lsh_docs (guide §1.3 diamond reuse)
    sets = dedup.shingle_id_sets(docs).persist()
    found = (
        dedup.containment_lsh_pairs(
            docs, threshold=0.9, min_shingles=5, _sets=sets
        )
        .select("a_doc_id", "b_doc_id")
        .persist()
    )
    exact = (
        dedup.containment_pairs(
            docs, threshold=0.9, min_shingles=5, _sets=sets
        )
        .select("a_doc_id", "b_doc_id")
        .persist()
    )
    keys = ["a_doc_id", "b_doc_id"]
    n_true = exact.agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = found.join(exact, keys).agg(F.count(F.lit(1)).alias("n_hit"))
    n_extra = found.join(exact, keys, "left_anti").agg(
        F.count(F.lit(1)).alias("n_extra")
    )
    return (
        n_true.crossJoin(n_hit)
        .crossJoin(n_extra)
        .select(
            F.col("n_true").alias("n_true_pairs"),
            (
                (F.col("n_true") == 0)
                | (
                    F.col("n_hit").cast("double")
                    >= 0.9 * F.col("n_true").cast("double")
                )
            ).alias("recall_ok"),
            (F.col("n_extra") == 0).alias("precision_ok"),
        )
    )


DEDUP_CONTAINMENT_LSH_SQL = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS shingle
  FROM words, unnest(range(1, len(w))) t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
), true_pairs AS (
  SELECT a_doc_id
  FROM pairs
  JOIN sizes sa ON a_doc_id = sa.doc_id
  JOIN sizes sb ON b_doc_id = sb.doc_id
  WHERE sa.sz >= 5 AND sb.sz >= 5
    AND CAST(CAST((CAST(inter AS HUGEINT)*2000000 + (sa.sz)) // (2*(sa.sz)) AS BIGINT) AS DOUBLE)/1000000.0 >= 0.9
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS recall_ok,
       TRUE AS precision_ok
FROM true_pairs
"""


def dedup_containment_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-LSH pair list (detail/bench view — the approximate
    pipeline alone, without the invariant gate's exact ground-truth
    recomputation; xxhash64 slots are not DuckDB-expressible)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_lsh_pairs(
        docs, threshold=0.9, min_shingles=5
    ).orderBy("a_doc_id", "b_doc_id")


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pair list (detail view; xxhash64 has no DuckDB
    equivalent so the pair list itself is not oracle-expressible)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(docs, threshold=0.8).orderBy(
        "a_doc_id", "b_doc_id"
    )


def dedup_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH dedup, oracle-gated by engine-local invariants: Spark
    computes its own LSH pair set AND the exact Jaccard≥0.8 pair set, then
    emits the exact-pair count plus recall/precision booleans. DuckDB
    recomputes the exact count and pins the booleans TRUE — so the gate
    fails if the exact count drifts OR the LSH path loses recall/precision.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r17: the LSH pipeline and its exact ground-truth twin each built
    # (and persisted) an IDENTICAL shingle frame from raw text — share
    # one build; and the pair sets feed two joins + three aggregates
    # below, so persist them once instead of re-running both whole
    # pipelines per reference (guide §1.3 diamond reuse). Handles are
    # caller-owned (clearCache), the operators' documented contract.
    sets = dedup.shingle_id_sets(docs).persist()
    found = (
        dedup.minhash_lsh_dedup(docs, threshold=0.8, _sets=sets)
        .select("a_doc_id", "b_doc_id")
        .persist()
    )
    exact = (
        dedup.jaccard_pairs(docs, threshold=0.8, _sets=sets)
        .select("a_doc_id", "b_doc_id")
        .persist()
    )
    keys = ["a_doc_id", "b_doc_id"]
    n_true = exact.agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = found.join(exact, keys).agg(F.count(F.lit(1)).alias("n_hit"))
    n_extra = found.join(exact, keys, "left_anti").agg(
        F.count(F.lit(1)).alias("n_extra")
    )
    return (
        n_true.crossJoin(n_hit)
        .crossJoin(n_extra)
        .select(
            F.col("n_true").alias("n_true_pairs"),
            (
                (F.col("n_true") == 0)
                | (
                    F.col("n_hit").cast("double")
                    >= 0.9 * F.col("n_true").cast("double")
                )
            ).alias("recall_ok"),
            (F.col("n_extra") == 0).alias("precision_ok"),
        )
    )


DEDUP_MINHASH_SQL = (
    _JACCARD_EXACT_PAIRS_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS recall_ok,
       TRUE AS precision_ok
FROM true_pairs
"""
)


def _neardup_registry_frames(spark: SparkSession, sf_dir: str):
    """(reg_fp, reg_bands) for the even-doc 'already-ingested corpus'
    half of the batch-form incremental gate."""
    from near_event_streams_spark.streaming import ingest as ingest_mod

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    reg_fp = corpus.select(
        ingest_mod.fingerprint_col("text").alias("fingerprint")
    )
    reg_bands = dedup.band_keys_from_sig(
        dedup.minhash_sig_array(corpus)
    ).select("band", "bucket", F.col("sig").alias("reg_sig"))
    return reg_fp, reg_bands


def ingest_neardup_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detail/bench form of the incremental near-dup decision: odd docs
    probed against the even-doc registry through the streaming
    pipeline's ``neardup_select`` — the operator alone, without the
    exact-Jaccard ground-truth recomputation the invariant gate adds."""
    from near_event_streams_spark.streaming import ingest as ingest_mod

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    reg_fp, reg_bands = _neardup_registry_frames(spark, sf_dir)
    # cache=[] persists the 4x-consumed sigs/bands intermediates;
    # entries are deduped by plan identity across repeated calls, so a
    # one-shot batch caller may abandon the handle (bounded cache)
    return ingest_mod.neardup_select(new, reg_fp, reg_bands, cache=[])


def ingest_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest (``streaming/ingest.py``),
    driver-gated: even ``doc_id`` docs play the already-ingested corpus
    (registry = their fingerprints + MinHash band keys), odd docs play
    the arriving batch, and the decision runs through
    ``ingest.neardup_select``.

    xxhash64 minhashing is not DuckDB-expressible, so the gate is
    engine-local invariants: ground truth = odd docs with an exact
    Jaccard>=0.8 counterpart among evens or smaller odds; ``recall_ok``
    pins that >=90% of those were rejected; ``precision_ok`` that <=10%
    of rejections lack a >=0.8 ground-truth counterpart (the est>=0.5
    band filter legitimately also drops SUB-threshold near-dups — e.g.
    Jaccard ~0.6-0.79 pairs — so a strict zero bound would penalize
    correct near-dup behavior; measured 0/18 false at sf0.01, 3/181 at
    sf0.1); ``exact_ok`` that no accepted doc exactly duplicates the
    corpus or another accepted doc. DuckDB recomputes n_new + the exact
    ground-truth count and pins the booleans TRUE.
    """
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    accepted = ingest_neardup_select(spark, sf_dir)
    rejected = new.select("doc_id").join(
        accepted.select("doc_id"), "doc_id", "left_anti"
    )

    true_pairs = dedup.jaccard_pairs(docs, threshold=0.8).select(
        "a_doc_id", "b_doc_id"
    )
    true_dups = (
        true_pairs.filter(F.col("b_doc_id") % 2 == 1)
        .select(F.col("b_doc_id").alias("doc_id"))
        .unionByName(
            true_pairs.filter(
                (F.col("a_doc_id") % 2 == 1) & (F.col("b_doc_id") % 2 == 0)
            ).select(F.col("a_doc_id").alias("doc_id"))
        )
        .distinct()
    )

    n_new = new.agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    n_true = true_dups.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_caught = true_dups.join(rejected, "doc_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_caught")
    )
    n_rejected = rejected.agg(F.count(F.lit(1)).alias("n_rejected"))
    n_false_rej = rejected.join(true_dups, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_false_rej")
    )
    reg_fp, _ = _neardup_registry_frames(spark, sf_dir)
    n_viol_corpus = accepted.join(reg_fp, "fingerprint", "left_semi").agg(
        F.count(F.lit(1)).alias("n_viol_corpus")
    )
    n_viol_within = (
        accepted.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_viol_within"))
    )
    return (
        n_new.crossJoin(n_true)
        .crossJoin(n_caught)
        .crossJoin(n_rejected)
        .crossJoin(n_false_rej)
        .crossJoin(n_viol_corpus)
        .crossJoin(n_viol_within)
        .select(
            F.col("n_new"),
            F.col("n_true").alias("n_true_neardup"),
            (
                (F.col("n_true") == 0)
                | (
                    F.col("n_caught").cast("double")
                    >= 0.9 * F.col("n_true").cast("double")
                )
            ).alias("recall_ok"),
            (
                (F.col("n_rejected") == 0)
                | (
                    F.col("n_false_rej").cast("double")
                    <= 0.1 * F.col("n_rejected").cast("double")
                )
            ).alias("precision_ok"),
            (
                (F.col("n_viol_corpus") == 0) & (F.col("n_viol_within") == 0)
            ).alias("exact_ok"),
        )
    )


INGEST_NEARDUP_SQL = (
    _JACCARD_EXACT_PAIRS_CTE
    + """
, odd_dups AS (
  SELECT b_doc_id AS doc_id FROM true_pairs WHERE b_doc_id % 2 = 1
  UNION
  SELECT a_doc_id FROM true_pairs
  WHERE a_doc_id % 2 = 1 AND b_doc_id % 2 = 0
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        WHERE doc_id % 2 = 1) AS n_new,
       CAST(COUNT(*) AS BIGINT) AS n_true_neardup,
       TRUE AS recall_ok,
       TRUE AS precision_ok,
       TRUE AS exact_ok
FROM odd_dups
"""
)


def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash, oracle-gated by its defining locality property: near-dup
    documents (exact Jaccard ≥ 0.8, recomputed in-engine) must receive
    nearby signatures. Emits the exact-pair count plus a boolean that
    ≥95% of those pairs sit within Hamming distance 10 of each other
    (measured max on this corpus: 7 of the 32 signature bits).
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs)
    exact = dedup.jaccard_pairs(docs, threshold=0.8).select(
        "a_doc_id", "b_doc_id"
    )
    a = sigs.select(
        F.col("doc_id").alias("a_doc_id"), F.col("simhash").alias("_sa")
    )
    b = sigs.select(
        F.col("doc_id").alias("b_doc_id"), F.col("simhash").alias("_sb")
    )
    ham = (
        exact.join(a, "a_doc_id")
        .join(b, "b_doc_id")
        .select(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias(
                "hamming"
            )
        )
    )
    n = F.count(F.lit(1))
    n_close = F.sum(F.when(F.col("hamming") <= 10, 1).otherwise(0))
    return ham.agg(
        n.alias("n_true_pairs"),
        (
            (n == 0) | (n_close.cast("double") >= 0.95 * n.cast("double"))
        ).alias("sig_close_ok"),
    )


DEDUP_SIMHASH_SQL = (
    _JACCARD_EXACT_PAIRS_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS sig_close_ok
FROM true_pairs
"""
)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: exact Jaccard≥0.8 pairs → connected
    components (iterative min-label propagation) → one keep-row per doc
    with its cluster id and whether it is the cluster representative.
    The oracle computes the same closure with a DuckDB recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    return (
        dedup.connected_components(pairs)
        .select(
            F.col("node").alias("doc_id"),
            "component",
            (F.col("node") == F.col("component")).alias("is_representative"),
        )
        .orderBy("doc_id")
    )


DEDUP_CLUSTERS_SQL = (
    _JACCARD_EXACT_PAIRS_CTE.rstrip().replace(
        "WITH words", "WITH RECURSIVE words", 1
    )
    + """,
sym_edges AS (
  SELECT a_doc_id AS src, b_doc_id AS dst FROM true_pairs
  UNION
  SELECT b_doc_id AS src, a_doc_id AS dst FROM true_pairs
),
lab(node, comp) AS (
  -- DuckDB recursive CTEs must be exactly <base> UNION <recursive>
  SELECT src, LEAST(src, dst) FROM sym_edges
  UNION
  SELECT e.dst, l.comp
  FROM lab l JOIN sym_edges e ON l.node = e.src
  WHERE l.comp < e.dst
)
SELECT node AS doc_id,
       MIN(comp) AS component,
       node = MIN(comp) AS is_representative
FROM lab
GROUP BY node
ORDER BY doc_id
"""
)


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup RESOLUTION: near-dup clusters (exact
    Jaccard ≥ 0.8 → connected components) keep their HIGHEST-QUALITY
    member (most distinct words, doc id as tie-break) instead of the
    naive lowest-id representative — the standard refinement that stops
    dedup from discarding the cleaner copy of a pair. Singletons form
    their own component and survive. Window ranks run per component
    (bounded groups, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    comp = dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    q = text.quality_features(docs).select("doc_id", "n_distinct_words")
    full = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn(
            "component", F.coalesce("component", F.col("doc_id"))
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_distinct_words"), F.asc("doc_id")
    )
    return (
        full.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "n_distinct_words",
            (F.col("rn") == 1).alias("kept"),
        )
        .orderBy("doc_id")
    )


DEDUP_KEEP_BEST_SQL = (
    _JACCARD_EXACT_PAIRS_CTE.rstrip().replace(
        "WITH words", "WITH RECURSIVE words", 1
    )
    + """,
sym_edges AS (
  SELECT a_doc_id AS src, b_doc_id AS dst FROM true_pairs
  UNION
  SELECT b_doc_id AS src, a_doc_id AS dst FROM true_pairs
),
lab(node, comp) AS (
  SELECT src, LEAST(src, dst) FROM sym_edges
  UNION
  SELECT e.dst, l.comp
  FROM lab l JOIN sym_edges e ON l.node = e.src
  WHERE l.comp < e.dst
),
comp AS (
  SELECT node AS doc_id, MIN(comp) AS component FROM lab GROUP BY node
),
q AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split_regex(trim(text), '\\s+')))
              AS INT) AS n_distinct_words
  FROM documents
),
membership AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
ranked AS (
  SELECT m.doc_id, m.component, q.n_distinct_words,
         row_number() OVER (PARTITION BY m.component
                            ORDER BY q.n_distinct_words DESC, m.doc_id)
           AS rn
  FROM membership m JOIN q USING (doc_id)
)
SELECT doc_id, component, n_distinct_words, rn = 1 AS kept
FROM ranked ORDER BY doc_id
"""
)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_pairs(emb, threshold=0.35).orderBy(
        "a_id", "b_id"
    )


DEDUP_EMBEDDING_SQL = """
WITH flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
), norms AS (
  SELECT vec_id, SUM(v*v) AS nsq FROM flat GROUP BY 1
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.v * b.v) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       ROUND(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6) AS cos_sim
FROM dots
JOIN norms na ON a_id = na.vec_id
JOIN norms nb ON b_id = nb.vec_id
WHERE ROUND(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6) >= 0.35
ORDER BY a_id, b_id
"""

def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (cluster embeddings, exact cosine
    within cluster only — ``similarity.semantic_dedup_pairs/keep``),
    driver-gated by engine-local invariants against the exact global
    pair set at the same 0.35 threshold:

    * ``subset_ok`` — every within-cluster pair IS a true global pair
      (exact cosine inside the cluster can never hallucinate a pair);
    * ``coverage_ok`` — >=15% of true pairs are co-clustered, >=2.4x
      the 1/16 random co-cluster rate (this synthetic corpus has NO
      high-similarity planted dups — max cosine ~0.5 — so threshold
      pairs are weakly-structured tail pairs; on a real embedding
      manifold, the SemDeDup setting, near-dups are near-identical and
      coverage approaches 1). Measured 0.42 at sf0.01 / 0.35 at
      sf0.001 / 0.26 at sf0.1;
    * ``keep_consistent_ok`` — the kept set is exactly the corpus minus
      the distinct higher-id members of found pairs (wiring check
      between the pair and keep forms).

    DuckDB recomputes n_vecs + the exact global pair count and pins the
    booleans TRUE.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    keys = ["a_id", "b_id"]
    found = similarity.semantic_dedup_pairs(emb, threshold=0.35).select(
        *keys
    )
    exact = similarity.cosine_near_pairs(emb, threshold=0.35).select(*keys)
    kept = similarity.semantic_dedup_keep(emb, threshold=0.35)

    n_vecs = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_hit = found.join(exact, keys).agg(F.count(F.lit(1)).alias("n_hit"))
    n_extra = found.join(exact, keys, "left_anti").agg(
        F.count(F.lit(1)).alias("n_extra")
    )
    n_dropped = (
        found.select("b_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    n_kept = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        n_vecs.crossJoin(n_true)
        .crossJoin(n_hit)
        .crossJoin(n_extra)
        .crossJoin(n_dropped)
        .crossJoin(n_kept)
        .select(
            F.col("n_vecs"),
            F.col("n_true").alias("n_true_pairs"),
            (F.col("n_extra") == 0).alias("subset_ok"),
            (
                (F.col("n_true") == 0)
                | (
                    F.col("n_hit").cast("double")
                    >= 0.15 * F.col("n_true").cast("double")
                )
            ).alias("coverage_ok"),
            (F.col("n_kept") == F.col("n_vecs") - F.col("n_dropped")).alias(
                "keep_consistent_ok"
            ),
        )
    )


DEDUP_SEMANTIC_SQL = """
WITH flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
), norms AS (
  SELECT vec_id, SUM(v*v) AS nsq FROM flat GROUP BY 1
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.v * b.v) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), true_pairs AS (
  SELECT a_id, b_id
  FROM dots
  JOIN norms na ON a_id = na.vec_id
  JOIN norms nb ON b_id = nb.vec_id
  WHERE ROUND(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6) >= 0.35
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS subset_ok,
       TRUE AS coverage_ok,
       TRUE AS keep_consistent_ok
FROM true_pairs
"""


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(queries, emb, k=5).orderBy(
        "query_id", "rank"
    )


def knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label audit over the labeled embeddings
    (``similarity.knn_label_agreement``): own label vs the 5-NN majority
    label, exact-oracled — neighbor ranking (6dp cosine, cand-id
    tiebreak) and majority vote (votes desc, label asc) are both fully
    deterministic, so DuckDB replays them bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_agreement(emb, k=5).orderBy("vec_id")


KNN_LABEL_AUDIT_SQL = """
WITH flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
), norms AS (
  SELECT vec_id, SUM(v*v) AS nsq FROM flat GROUP BY 1
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
  FROM flat q JOIN flat c ON q.i = c.i AND q.vec_id != c.vec_id
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, cand_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) DESC,
                    cand_id
         ) AS rank
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), votes AS (
  SELECT r.query_id, e.label AS cand_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM ranked r JOIN embeddings e ON r.cand_id = e.vec_id
  WHERE r.rank <= 5
  GROUP BY 1, 2
), majority AS (
  SELECT query_id, cand_label AS knn_label, n_votes,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY n_votes DESC, cand_label
         ) AS rk
  FROM votes
)
SELECT e.vec_id, e.label, m.knn_label, m.n_votes,
       e.label = m.knn_label AS label_consistent
FROM embeddings e JOIN majority m ON e.vec_id = m.query_id
WHERE m.rk = 1
ORDER BY e.vec_id
"""


def knn_label_audit_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label audit with IVF candidate generation —
    the 100 TB shape: neighbors come from ``similarity.ivf_topk``
    (cluster-pruned, ~nprobe/n_clusters of the corpus scored per query)
    plugged into ``knn_label_agreement(neighbors=...)``; no all-pairs
    GEMM anywhere in the audit path.

    Gated with the ``_ann_recall_invariant`` style: the exact audit
    (brute-force neighbors — affordable at test scale only) runs
    in-engine alongside; the output pins corpus-size and
    exact-flag counts the oracle replays exactly, plus
    ``audit_agree_ok`` — the IVF audit must reproduce the exact
    majority label for ≥90% of vectors (a vector the IVF audit cannot
    score counts as disagreement)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nb = similarity.ivf_topk(
        emb, emb, k=5, n_clusters=16, nprobe=12
    ).select("query_id", "cand_id", "cos_sim")
    ivf_audit = similarity.knn_label_agreement(emb, k=5, neighbors=nb)
    exact_audit = similarity.knn_label_agreement(emb, k=5)
    joined = exact_audit.select(
        "vec_id",
        F.col("knn_label").alias("exact_knn"),
        F.col("label_consistent").alias("exact_ok"),
    ).join(
        ivf_audit.select(
            "vec_id", F.col("knn_label").alias("ivf_knn")
        ),
        "vec_id",
        "left",
    )
    n = F.count(F.lit(1))
    n_agree = F.count(
        F.when(F.col("ivf_knn") == F.col("exact_knn"), 1)
    )
    return joined.agg(
        n.alias("n_docs"),
        F.count(F.when(~F.col("exact_ok"), 1)).alias("n_flagged_exact"),
        (n_agree.cast("double") >= 0.9 * n.cast("double")).alias(
            "audit_agree_ok"
        ),
    )


KNN_LABEL_AUDIT_IVF_SQL = """
WITH flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
), norms AS (
  SELECT vec_id, SUM(v*v) AS nsq FROM flat GROUP BY 1
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
  FROM flat q JOIN flat c ON q.i = c.i AND q.vec_id != c.vec_id
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, cand_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) DESC,
                    cand_id
         ) AS rank
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), votes AS (
  SELECT r.query_id, e.label AS cand_label, COUNT(*) AS n_votes
  FROM ranked r JOIN embeddings e ON r.cand_id = e.vec_id
  WHERE r.rank <= 5
  GROUP BY 1, 2
), majority AS (
  SELECT query_id, cand_label AS knn_label,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY n_votes DESC, cand_label
         ) AS rk
  FROM votes
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE e.label != m.knn_label) AS BIGINT)
         AS n_flagged_exact,
       TRUE AS audit_agree_ok
FROM embeddings e JOIN majority m ON e.vec_id = m.query_id
WHERE m.rk = 1
"""


_ANN_EXACT_TOPK_CTE = """
WITH flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
), norms AS (
  SELECT vec_id, SUM(v*v) AS nsq FROM flat GROUP BY 1
), q AS (
  SELECT * FROM flat WHERE vec_id < 10
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
  FROM q JOIN flat c ON q.i = c.i AND q.vec_id != c.vec_id
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, cand_id,
         ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) AS cos_sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), ranked AS (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM scored
)
"""

ANN_TOPK_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT query_id, rank, cand_id, cos_sim FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""
)

_ANN_INVARIANT_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok
FROM ranked WHERE rank <= 5
"""
)


def _ann_recall_invariant(
    exact: DataFrame, approx: DataFrame, min_recall: float
) -> DataFrame:
    """(n_exact_pairs, recall_ok) — each engine computes its own approx
    result; the oracle recomputes the exact top-k count and pins
    recall_ok TRUE."""
    keys = ["query_id", "cand_id"]
    n_exact = exact.select(*keys).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        approx.select(*keys)
        .join(exact.select(*keys), keys)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return n_exact.crossJoin(n_hit).select(
        F.col("n_exact").alias("n_exact_pairs"),
        (
            (F.col("n_exact") == 0)
            | (
                F.col("n_hit").cast("double")
                >= min_recall * F.col("n_exact").cast("double")
            )
        ).alias("recall_ok"),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN, oracle-gated: recall@5 vs the in-engine brute-force
    baseline must reach 0.9 (measured 0.98 at sf0.01 / 1.0 at sf0.001
    with nprobe=12/16 — these near-uniform synthetic embeddings cluster
    weakly, so the probe fraction must be generous; on real embedding
    manifolds the same recall comes at far smaller nprobe/n_clusters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivf_topk(queries, emb, k=5, n_clusters=16, nprobe=12)
    return _ann_recall_invariant(exact, approx, min_recall=0.9)


def ann_ivfpq_topk_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k result list (detail view; cosines are
    exact because the PQ shortlist is re-scored on full vectors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_topk(
        queries, emb, k=5, n_clusters=16, nprobe=12, m=8, ks=256, refine=4
    ).orderBy("query_id", "rank")


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (``similarity.ivfpq_topk``), oracle-gated: recall@5
    vs the in-engine brute-force baseline must reach 0.8 (measured
    0.94 at sf0.01 / 0.98 at sf0.001 with nprobe=12, m=8, ks=256,
    refine=4). The 100 TB memory path for the vector family: candidate
    scans read m code bytes + one stored norm per vector instead of
    full-width float32 (~16× fewer candidate-scan bytes at dim 64,
    more at production dims), with exact re-scoring of the refine·k
    shortlist so approximation affects recall only — same invariant-
    boolean gate as ``ann_ivf_topk``."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, n_clusters=16, nprobe=12, m=8, ks=256, refine=4
    )
    return _ann_recall_invariant(exact, approx, min_recall=0.8)


def _ivfpq_scratch_dir(sf_dir: str, tag: str = "ivfpq_idx") -> str:
    """Per-call scratch dir (mkdtemp + 3-call grace window) for the
    persisted-ANN gates — delegates to the shared implementation
    (``_common.scratch_dir``, r13 review: one mechanism, not two
    trackers to keep in sync). ``keep_dir=True``: these callers write
    SUBPATHS (codes/meta) under the returned dir."""
    from near_event_streams_spark.plans._common import scratch_dir

    return scratch_dir(tag, sf_dir, keep_dir=True)


def ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index persistence roundtrip (``similarity.ivfpq_write`` /
    ``ivfpq_read``), oracle-gated two ways: (a) the PERSISTED index's
    top-k meets the same recall@5 ≥ 0.8 bar as ``ann_ivfpq_topk``, and
    (b) probing the read-back index reproduces the fresh-build top-k
    EXACTLY (``roundtrip_identical`` — deterministic by construction:
    seeded bounded training sample, stable argmin ties, so write→read
    must be lossless for codes, norms, centroids and codebooks alike).

    This is the 100 TB amortization path the per-call build cannot be:
    a production corpus builds its index once and probes it for months,
    with the PQ rows hive-partitioned by coarse cluster so a probe's
    ``nprobe``/``n_clusters`` cell selection becomes parquet partition
    pruning at the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _ivfpq_scratch_dir(sf_dir)

    enc, cents, books = similarity.ivfpq_index(
        emb, n_clusters=16, m=8, ks=256, seed=42
    )
    similarity.ivfpq_write(enc, cents, books, path)
    idx = similarity.ivfpq_read(spark, path)
    pers = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=12, refine=4, index=idx
    )
    fresh = similarity.ivfpq_topk(
        queries, emb, k=5, n_clusters=16, nprobe=12, m=8, ks=256, refine=4
    )
    exact = similarity.brute_force_topk(queries, emb, k=5)

    gate = _ann_recall_invariant(exact, pers, min_recall=0.8)
    cols = ["query_id", "rank", "cand_id", "cos_sim"]
    n_pers = pers.agg(F.count(F.lit(1)).alias("n_pers"))
    n_fresh = fresh.agg(F.count(F.lit(1)).alias("n_fresh"))
    n_same = (
        pers.join(fresh, cols)
        .agg(F.count(F.lit(1)).alias("n_same"))
    )
    return (
        gate.crossJoin(n_pers)
        .crossJoin(n_fresh)
        .crossJoin(n_same)
        .select(
            "n_exact_pairs",
            "recall_ok",
            (
                (F.col("n_same") == F.col("n_pers"))
                & (F.col("n_pers") == F.col("n_fresh"))
            ).alias("roundtrip_identical"),
        )
    )


_ANN_PERSISTED_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS roundtrip_identical
FROM ranked WHERE rank <= 5
"""
)


def ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index ingest (``similarity.ivfpq_append``): half the
    corpus builds a persisted index; the other half is APPENDED —
    encoded against the existing centroids/codebooks (no retrain, the
    FAISS ``add`` shape) and written append-mode into the per-cluster
    parquet layout. Gated three ways: (a) probing the appended index
    over the FULL corpus meets the shared recall ≥ 0.8 bar, (b) the
    original half's PQ rows survive the append byte-for-byte
    (``append_preserves_rows`` — appends must never rewrite existing
    cells), (c) the appended index holds exactly |old|+|new| rows. At
    100 TB this is the daily-ingest path: millions of new vectors a day
    amortize onto a standing index; codebooks retrain only on drift as
    a deliberate rebuild."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    path = _ivfpq_scratch_dir(sf_dir)

    enc_old, cents, books = similarity.ivfpq_index(
        old, n_clusters=16, m=8, ks=256, seed=42
    )
    similarity.ivfpq_write(enc_old, cents, books, path)
    similarity.ivfpq_append(spark, path, new)
    idx = similarity.ivfpq_read(spark, path)

    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    # generous probe/refine (nprobe=16, refine=8): the appended half is
    # routed by centroids trained on the OLD half only, so on these
    # near-isotropic synthetic embeddings coarse routing loses more
    # than on a fresh index (measured 0.88 sf0.001 / 0.90 sf0.01 at
    # these settings vs 0.80 at nprobe=12/refine=4 — quantization, not
    # a bug; a production append-heavy index re-trains on drift)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=16, refine=8, index=idx
    )
    gate = _ann_recall_invariant(exact, approx, min_recall=0.8)

    back = idx[0]
    cols = ["vec_id", "cluster", "codes", "vec_norm"]
    n_old = enc_old.agg(F.count(F.lit(1)).alias("n_old"))
    n_new = new.agg(F.count(F.lit(1)).alias("n_new"))
    n_back = back.agg(F.count(F.lit(1)).alias("n_back"))
    n_kept = (
        back.filter(F.col("vec_id") % 2 == 0)
        .join(enc_old, cols)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        gate.crossJoin(n_old)
        .crossJoin(n_new)
        .crossJoin(n_back)
        .crossJoin(n_kept)
        .select(
            "n_exact_pairs",
            "recall_ok",
            (
                (F.col("n_kept") == F.col("n_old"))
                & (F.col("n_back") == F.col("n_old") + F.col("n_new"))
            ).alias("append_preserves_rows"),
        )
    )


_ANN_APPEND_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS append_preserves_rows
FROM ranked WHERE rank <= 5
"""
)


def ann_ivfpq_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance (``similarity.ivfpq_compact``): half the corpus
    builds a persisted index, the other half is APPENDED (encoded
    against centroids trained before it existed — the recall-eroding
    state ``ann_ivfpq_append`` tolerates with a widened probe), then the
    scheduled compact retrains over the FULL corpus and swaps the
    layout in atomically-enough (side-dir + two renames; codes and
    sidecar move together). Gated four ways: (a) the compact FIRES at
    the 50% appended fraction under a ``min_appended_frac=0.25``
    schedule and (b) resets the sidecar yardstick so an immediate
    second scheduled compact SKIPS; (c) the compacted index holds
    exactly the full corpus; (d) probing it at the STANDARD
    nprobe=12/refine=4 settings meets the recall ≥ 0.8 fresh-build bar
    — the settings the append state needed nprobe=16/refine=8 to reach.
    At 100 TB this is the nightly maintenance window: ingest appends
    all day, the scheduler calls compact unconditionally, and only real
    drift pays the rebuild."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    path = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_cmp")

    enc_old, cents, books = similarity.ivfpq_index(
        old, n_clusters=16, m=8, ks=256, seed=42
    )
    similarity.ivfpq_write(enc_old, cents, books, path)
    similarity.ivfpq_append(spark, path, new)
    res = similarity.ivfpq_compact(
        spark, path, emb, min_appended_frac=0.25, seed=42
    )
    res2 = similarity.ivfpq_compact(
        spark, path, emb, min_appended_frac=0.25, seed=42
    )
    idx = similarity.ivfpq_read(spark, path)

    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=12, refine=4, index=idx
    )
    gate = _ann_recall_invariant(exact, approx, min_recall=0.8)

    n_emb = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    n_idx = idx[0].agg(F.count(F.lit(1)).alias("n_idx"))
    fired = bool(
        res["compacted"]
        and res["appended_frac"] is not None
        and abs(res["appended_frac"] - 0.5) < 0.02
        and not res2["compacted"]
        and res2["appended_frac"] == 0.0
    )
    return (
        gate.crossJoin(n_emb)
        .crossJoin(n_idx)
        .select(
            "n_exact_pairs",
            "recall_ok",
            F.lit(fired).alias("compact_scheduled_ok"),
            (F.col("n_idx") == F.col("n_emb")).alias(
                "compacted_holds_full_corpus"
            ),
        )
    )


_ANN_COMPACTED_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS compact_scheduled_ok,
       TRUE AS compacted_holds_full_corpus
FROM ranked WHERE rank <= 5
"""
)


def ann_opq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ index persistence roundtrip (``similarity.opq_write`` /
    ``opq_read`` — the rotation-carrying twin of ``ann_ivfpq_persisted``,
    closing the r12 gap where only plain IVF-PQ had the build-once/
    probe-for-months path). Oracle-gated two ways: (a) the persisted
    index's top-k meets the shared recall@5 ≥ 0.8 bar, and (b) probing
    the read-back 4-tuple reproduces the fresh per-call build EXACTLY
    (``roundtrip_identical`` — the sidecar must round-trip centroids,
    codebooks AND the dim×dim rotation losslessly; a dropped or
    transposed rotation silently shifts every ADC score)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _ivfpq_scratch_dir(sf_dir, tag="opq_idx")

    enc, cents, rot, books = similarity.opq_index(
        emb, n_clusters=16, m=8, ks=256, seed=42
    )
    similarity.opq_write(enc, cents, rot, books, path)
    idx = similarity.opq_read(spark, path)
    pers = similarity.opq_topk(
        queries, emb, k=5, nprobe=12, refine=4, index=idx
    )
    fresh = similarity.opq_topk(
        queries, emb, k=5, n_clusters=16, nprobe=12, m=8, ks=256, refine=4
    )
    exact = similarity.brute_force_topk(queries, emb, k=5)

    gate = _ann_recall_invariant(exact, pers, min_recall=0.8)
    cols = ["query_id", "rank", "cand_id", "cos_sim"]
    n_pers = pers.agg(F.count(F.lit(1)).alias("n_pers"))
    n_fresh = fresh.agg(F.count(F.lit(1)).alias("n_fresh"))
    n_same = pers.join(fresh, cols).agg(F.count(F.lit(1)).alias("n_same"))
    return (
        gate.crossJoin(n_pers)
        .crossJoin(n_fresh)
        .crossJoin(n_same)
        .select(
            "n_exact_pairs",
            "recall_ok",
            (
                (F.col("n_same") == F.col("n_pers"))
                & (F.col("n_pers") == F.col("n_fresh"))
            ).alias("roundtrip_identical"),
        )
    )


_ANN_OPQ_PERSISTED_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS roundtrip_identical
FROM ranked WHERE rank <= 5
"""
)


def ann_ivfpq_stream_ingested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance loop (``streaming/ann_ingest.py``),
    driven through its ``ann_index_ingest_sink`` batch body (r12
    verdict #3; the four-batch crash-recovery run across both swap
    protocols lives in ``tests/test_ann_stream_ingest.py``): seed index
    on half the corpus, one micro-batch appended through the sink, the
    SAME batch REDELIVERED (at-least-once replay must be a no-op — the
    ``if_absent`` anti-join), a maintenance compact crash-injected
    mid-swap (live renamed away, complete retrain stranded at tmp),
    and the NEXT batch's sink healing it mechanically
    (``ivfpq_recover`` promotes the finished compact) before
    appending. Gated: (a) probe recall ≥ 0.8 over the full corpus at
    the append-tolerant nprobe=16/refine=8 settings (the loop's steady
    state always carries an appended tail routed by pre-tail
    centroids, same rationale as ``ann_ivfpq_append``); (b) the
    replayed batch changed nothing and the injected crash actually
    fired; (c) the healed index holds exactly the full corpus with no
    crash debris left beside it."""
    from near_event_streams_spark.streaming import ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 4 <= 1)
    b1 = emb.filter(F.col("vec_id") % 4 == 2).select("vec_id", "embedding")
    b2 = emb.filter(F.col("vec_id") % 4 == 3).select("vec_id", "embedding")
    root = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_stream")
    idx, lake = root + "/idx", root + "/lake"

    ann_ingest.seed_ann_index(
        seed, idx, lake, n_clusters=16, m=8, ks=256, seed=42
    )
    sink = ann_ingest.ann_index_ingest_sink(idx, lake)
    sink(b1, 0)
    n_after_b1 = spark.read.parquet(idx + "/codes").count()
    sink(b1, 0)  # at-least-once redelivery of the SAME batch
    replay_idempotent = (
        spark.read.parquet(idx + "/codes").count() == n_after_b1
    )

    # nightly maintenance compact dies inside the swap window
    corpus = spark.read.parquet(lake).select("vec_id", "embedding")
    crashed = False
    try:
        similarity.ivfpq_compact(
            spark, idx, corpus, seed=42, _crash_between_renames=True
        )
    except IOError:
        crashed = True
    # the next micro-batch's sink heals the crash (recover promotes the
    # completed retrain) before appending
    sink(b2, 1)
    idx_t = similarity.ivfpq_read(spark, idx)

    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=16, refine=8, index=idx_t
    )
    gate = _ann_recall_invariant(exact, approx, min_recall=0.8)

    import os as _os

    no_debris = not _os.path.exists(idx + ".compact-tmp") and (
        not _os.path.exists(idx + ".compact-old")
    )
    n_emb = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    n_idx = idx_t[0].agg(F.count(F.lit(1)).alias("n_idx"))
    return (
        gate.crossJoin(n_emb)
        .crossJoin(n_idx)
        .select(
            "n_exact_pairs",
            "recall_ok",
            F.lit(
                bool(replay_idempotent and crashed and no_debris)
            ).alias("stream_replay_and_crash_ok"),
            (F.col("n_idx") == F.col("n_emb")).alias(
                "ingested_holds_full_corpus"
            ),
        )
    )


_ANN_STREAM_INGESTED_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS stream_replay_and_crash_ok,
       TRUE AS ingested_holds_full_corpus
FROM ranked WHERE rank <= 5
"""
)


def ann_index_build_reproducible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible index builds — the property every other index
    guarantee rides on (the crash-recovery e2e's probe-identity gate,
    compact determinism, fresh-vs-persisted roundtrips): building from
    two copies of the SAME corpus with DIFFERENT physical layouts
    (one parquet file vs seven hash-partitioned files — different row
    order, different partition boundaries, different part-file names)
    must produce indexes whose probe results are IDENTICAL. This is
    exactly what a full-corpus MLlib KMeans fit does NOT give you
    (k-means|| init samples by RDD partition, so centroids inherit the
    file layout — found by the r13 streaming e2e); the bounded
    sorted-sample fit (``ivf_index(fit_sample=)``) restores it by
    construction. Gated: (a) probes from both layouts identical row
    sets, (b) the shared recall ≥ 0.8 bar on one of them."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    root = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_repro")
    vecs = emb.select("vec_id", "embedding")
    vecs.coalesce(1).write.parquet(root + "/one")
    vecs.repartition(7, "vec_id").write.parquet(root + "/many")

    probes = []
    for sub in ("one", "many"):
        corpus = spark.read.parquet(f"{root}/{sub}")
        enc, cents, books = similarity.ivfpq_index(
            corpus, n_clusters=16, m=8, ks=256, seed=42
        )
        probes.append(
            similarity.ivfpq_topk(
                queries, corpus, k=5, nprobe=12, refine=4,
                index=(enc, cents, books),
            )
        )
    exact = similarity.brute_force_topk(queries, emb, k=5)
    gate = _ann_recall_invariant(exact, probes[0], min_recall=0.8)

    cols = ["query_id", "rank", "cand_id", "cos_sim"]
    n_a = probes[0].agg(F.count(F.lit(1)).alias("n_a"))
    n_b = probes[1].agg(F.count(F.lit(1)).alias("n_b"))
    n_same = (
        probes[0].join(probes[1], cols)
        .agg(F.count(F.lit(1)).alias("n_same"))
    )
    return (
        gate.crossJoin(n_a)
        .crossJoin(n_b)
        .crossJoin(n_same)
        .select(
            "n_exact_pairs",
            "recall_ok",
            (
                (F.col("n_same") == F.col("n_a"))
                & (F.col("n_a") == F.col("n_b"))
            ).alias("layout_independent"),
        )
    )


_ANN_BUILD_REPRO_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS layout_independent
FROM ranked WHERE rank <= 5
"""
)


def ann_ivfpq_pointer_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The object-store-safe pointer-flip swap protocol as ONE
    driver-gated lifecycle (r13 verdict Next #2; the pointer twin of
    ``ann_ivfpq_stream_ingested``): seed a ``swap_mode="pointer"``
    index through the production bootstrap, append a micro-batch
    through the EXACT ``foreachBatch`` sink body (the SAME batch
    redelivered must be a no-op), crash one maintenance compact
    BEFORE the pointer flip — the finished retrain must be DISCARDED
    with the visible ``ok_discarded_retrain`` recovery signal while
    the live version stays authoritative (r13 verdict #5) — crash
    another AFTER the flip (stray superseded version dir), and let
    the next batch's sink heal each mechanically. Gated: (a) probe
    recall ≥ 0.8 over the full corpus at the append-tolerant
    nprobe=16/refine=8 settings; (b) both injected crashes fired and
    resolved with the expected signals; (c) exactly ONE live version
    dir remains, holding the full corpus.

    Why this exists at the 100 TB target: S3-class storage is the
    deployment default there, and S3A directory "rename" is a
    non-atomic client-side copy+delete — the rename-swap crash
    guarantee (the reference's restart-resilience story,
    ``configs.rs:101-127``) only generalizes to object stores through
    a versioned prefix + single-object pointer flip (one atomic
    PUT).

    The seed stamps ``retain_versions=1`` — an EXPLICIT opt-out of
    pointer mode's r16 grace-window default (2), so every default
    maintenance call below runs delete-immediately and the
    exactly-one-version assertions stay crisp; the retention walk is
    its own gated query (``ann_index_version_retention``)."""
    from near_event_streams_spark.streaming import ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 4 <= 1)
    b1 = emb.filter(F.col("vec_id") % 4 == 2).select("vec_id", "embedding")
    b2 = emb.filter(F.col("vec_id") % 4 == 3).select("vec_id", "embedding")
    root = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_ptr")
    idx, lake = root + "/idx", root + "/lake"

    ann_ingest.seed_ann_index(
        seed, idx, lake, n_clusters=16, m=8, ks=256, seed=42,
        swap_mode="pointer", retain_versions=1,
    )
    sink = ann_ingest.ann_index_ingest_sink(idx, lake)
    sink(b1, 0)
    base0 = similarity.resolve_index_base(spark, idx)
    n_after_b1 = spark.read.parquet(base0 + "/codes").count()
    sink(b1, 0)  # at-least-once redelivery of the SAME batch
    replay_idempotent = (
        spark.read.parquet(base0 + "/codes").count() == n_after_b1
    )

    corpus = spark.read.parquet(lake).select("vec_id", "embedding")
    # crash 1: retrain finished, pointer NOT flipped — recover must
    # DISCARD it visibly (live may carry appends newer than the build)
    crashed_before = False
    try:
        similarity.ivfpq_compact(
            spark, idx, corpus, seed=42, _crash_before_swap=True
        )
    except IOError:
        crashed_before = True
    discard_signaled = (
        similarity.ivfpq_recover(spark, idx) == "ok_discarded_retrain"
    )
    live_untouched = (
        similarity.resolve_index_base(spark, idx) == base0
    )
    # crash 2: pointer flipped, superseded version dir not yet deleted
    crashed_after = False
    try:
        similarity.ivfpq_compact(
            spark, idx, corpus, seed=42, _crash_between_renames=True
        )
    except IOError:
        crashed_after = True
    # the next micro-batch's sink heals the stray and appends
    sink(b2, 1)
    idx_t = similarity.ivfpq_read(spark, idx)

    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=16, refine=8, index=idx_t
    )
    gate = _ann_recall_invariant(exact, approx, min_recall=0.8)

    single_version = len(similarity._list_versions(spark, idx)) == 1
    n_emb = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    n_idx = idx_t[0].agg(F.count(F.lit(1)).alias("n_idx"))
    return (
        gate.crossJoin(n_emb)
        .crossJoin(n_idx)
        .select(
            "n_exact_pairs",
            "recall_ok",
            F.lit(
                bool(
                    replay_idempotent
                    and crashed_before
                    and discard_signaled
                    and live_untouched
                    and crashed_after
                    and single_version
                )
            ).alias("pointer_crash_walk_ok"),
            (F.col("n_idx") == F.col("n_emb")).alias(
                "ingested_holds_full_corpus"
            ),
        )
    )


_ANN_POINTER_SWAP_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS pointer_crash_walk_ok,
       TRUE AS ingested_holds_full_corpus
FROM ranked WHERE rank <= 5
"""
)


def ann_compact_drift_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-triggered compaction (r13 verdict Next #4). Recall erosion
    on a maintained IVF-PQ index is a DRIFT phenomenon, not a volume
    one (SCALE.md r13: iid appends at 50% volume hold recall flat;
    +2σ on 8/64 dims erodes 0.666→0.528 until a retrain), so the
    scheduler's volume test (``min_appended_frac``) is blind to
    exactly the appends that hurt. The r14 PSI OR-trigger compares the
    APPENDED rows' coarse-cell occupancy against the at-write baseline
    (``cell_counts`` sidecar column) — parquet footer counts only, no
    vector reads. Gated: (a) iid appends of 50% volume do NOT fire a
    drift-only scheduler at the classic 0.25 action threshold; (b) the
    +2σ fixture DOES, and the compact fires on drift even though the
    volume threshold (0.9) alone would skip; (c) immediately after
    the compact the trigger is quiet again (baseline reset); (d) the
    fired compact RESTORES the index: probe-identical to a fresh
    same-seed build on the drifted corpus; plus the standard recall
    bar on the restored index."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    tail = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    DRIFT = 0.25
    enc, cents, books = similarity.ivfpq_index(
        base, n_clusters=16, m=8, ks=256, seed=42
    )
    p_iid = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_drift_iid") + "/idx"
    p_dr = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_drift_dr") + "/idx"
    similarity.ivfpq_write(enc, cents, books, p_iid)
    similarity.ivfpq_append(spark, p_iid, tail)
    iid_quiet = not similarity.compact_due(
        spark, p_iid, None, drift_psi_threshold=DRIFT
    )

    # the SCALE.md r13 erosion fixture: +2σ (~0.25) on the first 8 dims
    drifted = tail.withColumn(
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i < F.lit(8), x + F.lit(0.25)).otherwise(x),
        ),
    )
    similarity.ivfpq_write(enc, cents, books, p_dr)
    similarity.ivfpq_append(spark, p_dr, drifted)
    drift_due = similarity.compact_due(
        spark, p_dr, None, drift_psi_threshold=DRIFT
    )
    emb_dr = base.unionByName(drifted)
    res = similarity.ivfpq_compact(
        spark,
        p_dr,
        emb_dr,
        min_appended_frac=0.9,  # volume alone would SKIP at 50%
        drift_psi_threshold=DRIFT,
        seed=42,
    )
    fired_by_drift = bool(
        res["compacted"]
        and res["drift_psi"] is not None
        and res["drift_psi"] >= DRIFT
        and res["appended_frac"] < 0.9
    )
    quiet_after = not similarity.compact_due(
        spark, p_dr, None, drift_psi_threshold=DRIFT
    )

    # restoration: the compacted index is probe-identical to a fresh
    # same-seed build on the drifted corpus (deterministic training)
    queries = emb_dr.filter(F.col("vec_id") < 10)
    cols = ["query_id", "rank", "cand_id", "cos_sim"]
    probe_c = similarity.ivfpq_topk(
        queries, emb_dr, k=5, nprobe=12, refine=4,
        index=similarity.ivfpq_read(spark, p_dr),
    )
    enc_f, c_f, b_f = similarity.ivfpq_index(
        emb_dr, n_clusters=16, m=8, ks=256, seed=42
    )
    probe_f = similarity.ivfpq_topk(
        queries, emb_dr, k=5, nprobe=12, refine=4, index=(enc_f, c_f, b_f)
    )
    exact = similarity.brute_force_topk(queries, emb_dr, k=5)
    gate = _ann_recall_invariant(exact, probe_c, min_recall=0.8)
    n_c = probe_c.agg(F.count(F.lit(1)).alias("n_c"))
    n_f = probe_f.agg(F.count(F.lit(1)).alias("n_f"))
    n_same = probe_c.join(probe_f, cols).agg(
        F.count(F.lit(1)).alias("n_same")
    )
    return (
        gate.crossJoin(n_c)
        .crossJoin(n_f)
        .crossJoin(n_same)
        .select(
            "n_exact_pairs",
            "recall_ok",
            F.lit(
                bool(iid_quiet and drift_due and fired_by_drift and quiet_after)
            ).alias("drift_trigger_ok"),
            (
                (F.col("n_same") == F.col("n_c"))
                & (F.col("n_c") == F.col("n_f"))
            ).alias("restored_matches_fresh"),
        )
    )


# the exact top-k CTE over the DRIFTED corpus: the odd half shifted
# +0.25 on the first 8 dims (1-based i <= 8 here = 0-based i < 8 in
# the Spark transform); float->double cast then a double add is
# IEEE-identical on both engines
_ANN_DRIFT_EXACT_CTE = """
WITH flat AS (
  SELECT vec_id, i,
         CAST(embedding[i] AS DOUBLE)
         + CASE WHEN vec_id % 2 = 1 AND i <= 8 THEN 0.25 ELSE 0.0 END AS v
  FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
), norms AS (
  SELECT vec_id, SUM(v*v) AS nsq FROM flat GROUP BY 1
), q AS (
  SELECT * FROM flat WHERE vec_id < 10
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, SUM(q.v * c.v) AS dot
  FROM q JOIN flat c ON q.i = c.i AND q.vec_id != c.vec_id
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, cand_id,
         ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) AS cos_sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), ranked AS (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM scored
)
"""

_ANN_DRIFT_TRIGGER_SQL = (
    _ANN_DRIFT_EXACT_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS drift_trigger_ok,
       TRUE AS restored_matches_fresh
FROM ranked WHERE rank <= 5
"""
)


def ann_index_version_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-reader safety for the pointer-swap maintenance loop (r14
    verdict Next #1): pointer-mode compact used to delete the
    superseded ``v<N>`` immediately after the ``_CURRENT`` flip, so a
    CONCURRENT long-running probe job that resolved the pointer
    pre-flip lost its files mid-scan — and object stores, where
    pointer mode is mandatory, are exactly where probe jobs run for
    hours. ``retain_versions`` keeps the last K versions (Delta/
    Iceberg-style retained-versions + vacuum, the same shape as the
    repo's upsert store); version-dir paths never mutate, so a
    pre-flip reader gets true snapshot isolation.

    Gated, through the PRODUCTION ``foreachBatch`` sink body with
    ``retain_versions=2``: (a) a reader that resolved the live base
    BEFORE a sink-scheduled compact re-reads the SAME row count from
    that base after the flip (its scan finishes); (b) the next
    compact's horizon sweep reclaims the now-out-of-horizon version
    (exactly [v1, v2] remain); (c) ``ivfpq_vacuum`` at horizon 1 pins
    the storage lever (one version reclaimed, live untouched); (d)
    the usual recall bar on the final index, which holds the full
    corpus."""
    from near_event_streams_spark.streaming import ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 4 <= 1)
    b1 = emb.filter(F.col("vec_id") % 4 == 2).select("vec_id", "embedding")
    b2 = emb.filter(F.col("vec_id") % 4 == 3).select("vec_id", "embedding")
    root = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_retain")
    idx, lake = root + "/idx", root + "/lake"

    ann_ingest.seed_ann_index(
        seed, idx, lake, n_clusters=16, m=8, ks=256, seed=42,
        swap_mode="pointer",
    )
    # volume-triggered compacts (each batch appends ~1/3 then ~1/4 of
    # the corpus, both over the 0.2 threshold) with the r15 two-cycle
    # grace window
    sink = ann_ingest.ann_index_ingest_sink(
        idx, lake, min_appended_frac=0.2, retain_versions=2
    )

    # the concurrent reader resolves the live base BEFORE batch 0's
    # compact flips the pointer
    pre_base = similarity.resolve_index_base(spark, idx)
    n_pre = spark.read.parquet(pre_base + "/codes").count()
    n_b1 = b1.count()
    sink(b1, 0)  # append + compact -> v1 live, v0 retained in-horizon
    flipped = similarity.resolve_index_base(spark, idx) != pre_base
    # the reader finishes its scan against the PRE-FLIP base: the
    # retained layout holds exactly seed + batch-0 rows (the sink
    # appends into the live version BEFORE the compact flips — normal
    # live operation, and precisely the state a pre-flip resolver
    # must keep seeing)
    reader_survived = (
        spark.read.parquet(pre_base + "/codes").count() == n_pre + n_b1
    )
    sink(b2, 1)  # append + compact -> v2 live, v1 retained, v0 swept
    horizon_swept = similarity._list_versions(spark, idx) == [1, 2]
    vacuumed = similarity.ivfpq_vacuum(spark, idx, retain_versions=1) == 1
    single_after_vacuum = len(similarity._list_versions(spark, idx)) == 1

    idx_t = similarity.ivfpq_read(spark, idx)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=16, refine=8, index=idx_t
    )
    gate = _ann_recall_invariant(exact, approx, min_recall=0.8)
    n_emb = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    n_idx = idx_t[0].agg(F.count(F.lit(1)).alias("n_idx"))
    return (
        gate.crossJoin(n_emb)
        .crossJoin(n_idx)
        .select(
            "n_exact_pairs",
            "recall_ok",
            F.lit(
                bool(
                    flipped
                    and reader_survived
                    and horizon_swept
                    and vacuumed
                    and single_after_vacuum
                )
            ).alias("retention_walk_ok"),
            (F.col("n_idx") == F.col("n_emb")).alias(
                "ingested_holds_full_corpus"
            ),
        )
    )


_ANN_VERSION_RETENTION_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS retention_walk_ok,
       TRUE AS ingested_holds_full_corpus
FROM ranked WHERE rank <= 5
"""
)


def ann_retention_horizon_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The retention horizon is PERSISTED IN THE INDEX LAYOUT (r15
    verdict #2): ``retain_versions`` used to be a per-call knob, so an
    out-of-band ``ivfpq_recover``/``ivfpq_vacuum`` run with defaults
    silently reclaimed grace history the scheduled compacts
    deliberately kept — the docstring warned where the code should
    have (the silently-narrowed-durability-knob class r13/r14 kept
    killing). Since r16 the sidecar carries the horizon: pointer-mode
    seeds stamp 2 (shared object stores are exactly where long probe
    jobs hold pre-flip paths — r15 verdict #4's safe-by-default), and
    every maintenance call resolves ``None`` to the persisted value.

    Gated, through the PRODUCTION bootstrap + ``foreachBatch`` sink
    body with ALL retention knobs left at their defaults: (a) the
    pointer seed stamps horizon 2 in the sidecar; (b) the sink's
    default-arg scheduled compact honors it — the superseded version
    survives the flip and the pre-flip reader finishes its scan
    value-exact; (c) a NO-ARGUMENT recover and a NO-ARGUMENT vacuum
    both preserve the retained history (the r15 footgun, closed); (d)
    an EXPLICITLY narrower vacuum still reclaims it — the storage
    lever, now warned instead of silent; (e) the usual recall bar on
    the final index, which holds the full corpus."""
    from near_event_streams_spark.streaming import ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    root = _ivfpq_scratch_dir(sf_dir, tag="ivfpq_horizon")
    idx, lake = root + "/idx", root + "/lake"

    # (a) default pointer seed stamps the grace horizon in the sidecar
    ann_ingest.seed_ann_index(
        seed, idx, lake, n_clusters=16, m=8, ks=256, seed=42,
        swap_mode="pointer",
    )
    horizon_stamped = (
        similarity._sidecar_horizon(spark, idx + "/v0") == 2
    )

    # (b) DEFAULT-knob sink: the scheduled compact resolves the
    # persisted horizon — superseded version retained, reader survives
    sink = ann_ingest.ann_index_ingest_sink(idx, lake, min_appended_frac=0.2)
    pre_base = similarity.resolve_index_base(spark, idx)
    n_pre = spark.read.parquet(pre_base + "/codes").count()
    n_b1 = b1.count()
    sink(b1, 0)  # ~50% appended -> compact fires
    flipped = similarity.resolve_index_base(spark, idx) != pre_base
    retained_by_default = similarity._list_versions(spark, idx) == [0, 1]
    reader_survived = (
        spark.read.parquet(pre_base + "/codes").count() == n_pre + n_b1
    )

    # (c) no-argument recover and vacuum HONOR the persisted horizon
    recover_preserves = (
        similarity.ivfpq_recover(spark, idx) == "ok"
        and similarity._list_versions(spark, idx) == [0, 1]
    )
    vacuum_preserves = (
        similarity.ivfpq_vacuum(spark, idx) == 0
        and similarity._list_versions(spark, idx) == [0, 1]
    )
    # (d) the explicit narrower horizon is the storage lever (warned)
    explicit_reclaims = (
        similarity.ivfpq_vacuum(spark, idx, retain_versions=1) == 1
        and len(similarity._list_versions(spark, idx)) == 1
    )

    idx_t = similarity.ivfpq_read(spark, idx)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=16, refine=8, index=idx_t
    )
    gate = _ann_recall_invariant(exact, approx, min_recall=0.8)
    n_emb = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    n_idx = idx_t[0].agg(F.count(F.lit(1)).alias("n_idx"))
    return (
        gate.crossJoin(n_emb)
        .crossJoin(n_idx)
        .select(
            "n_exact_pairs",
            "recall_ok",
            F.lit(
                bool(
                    horizon_stamped
                    and flipped
                    and retained_by_default
                    and reader_survived
                    and recover_preserves
                    and vacuum_preserves
                    and explicit_reclaims
                )
            ).alias("horizon_walk_ok"),
            (F.col("n_idx") == F.col("n_emb")).alias(
                "ingested_holds_full_corpus"
            ),
        )
    )


_ANN_HORIZON_PERSISTED_SQL = (
    _ANN_EXACT_TOPK_CTE
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS horizon_walk_ok,
       TRUE AS ingested_holds_full_corpus
FROM ranked WHERE rank <= 5
"""
)


def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-OPQ ANN (``similarity.opq_topk``), oracle-gated: recall@5 vs
    the in-engine brute-force baseline must reach 0.8 — the same gate as
    ``ann_ivfpq_topk`` at the IDENTICAL byte budget (m=8 code bytes +
    norm per candidate). OPQ's learned orthogonal rotation (Ge et al.
    2013, trained on the same bounded driver sample, one extra dim×dim
    broadcast) decorrelates the subspaces PQ quantizes independently —
    the standard recall lift on real embedding manifolds; on these
    near-isotropic synthetic vectors it must at minimum not hurt."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.opq_topk(
        queries, emb, k=5, n_clusters=16, nprobe=12, m=8, ks=256, refine=4
    )
    return _ann_recall_invariant(exact, approx, min_recall=0.8)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN, oracle-gated: recall@5 vs the in-engine
    brute-force baseline must reach 0.6 (measured 0.92-1.0 with
    multiprobe=1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries, emb, k=5)
    approx = similarity.lsh_topk(queries, emb, dim=64, k=5)
    return _ann_recall_invariant(exact, approx, min_recall=0.6)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding table with per-vector
    reconstruction audit (cosine + max abs error as sequential folds the
    DuckDB oracle replays bit-for-bit)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8_recon(emb, dim=64).orderBy("vec_id")


EMB_QUANTIZE_SQL = """
WITH dims AS (
  SELECT i, CAST(MIN(embedding[i]) AS DOUBLE) AS mn,
         CAST(MAX(embedding[i]) AS DOUBLE) AS mx
  FROM embeddings, unnest(range(1, 65)) t(i)
  GROUP BY i
), stats AS (
  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
  FROM dims
), coded AS (
  SELECT vec_id, embedding, mins, maxs,
    list_transform(range(1, 65), i ->
      CAST(floor(
        (CASE WHEN maxs[i] - mins[i] > 0
              THEN (CAST(embedding[i] AS DOUBLE) - mins[i])
                   / (maxs[i] - mins[i])
              ELSE 0.0 END) * 255.0 + 0.5) AS INT) - 128) AS q
  FROM embeddings, stats
), rec AS (
  SELECT vec_id, embedding, q,
    list_transform(range(1, 65), i ->
      mins[i] + CAST(q[i] + 128 AS DOUBLE) * (maxs[i] - mins[i]) / 255.0)
      AS recon
  FROM coded
)
SELECT vec_id,
  array_to_string(q[1:8], ',') AS q_head,
  ROUND(
    list_reduce(list_prepend(0.0,
        list_transform(range(1, 65),
                       i -> CAST(embedding[i] AS DOUBLE) * recon[i])),
        (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_prepend(0.0,
          list_transform(range(1, 65),
                         i -> CAST(embedding[i] AS DOUBLE)
                              * CAST(embedding[i] AS DOUBLE))),
          (acc, x) -> acc + x))
       * sqrt(list_reduce(list_prepend(0.0,
            list_transform(recon, x -> x * x)),
            (acc, x) -> acc + x))), 6) AS recon_cosine,
  ROUND(list_max(list_transform(range(1, 65),
        i -> abs(CAST(embedding[i] AS DOUBLE) - recon[i]))), 6)
    AS max_abs_err
FROM rec
ORDER BY vec_id
"""


def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_features(docs)


TEXT_QUALITY_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents
)
SELECT doc_id,
  CAST(len(words) AS INT) AS n_words,
  CAST(len(list_distinct(words)) AS INT) AS n_distinct_words,
  ROUND(CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
        / CAST(len(words) AS DOUBLE), 6) AS avg_word_len,
  ROUND(CAST(len(list_filter(words,
          x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
        / CAST(len(words) AS DOUBLE), 6) AS stopword_ratio,
  len(words) >= 5 AND len(words) <= 10000
    AND CAST(len(list_distinct(words)) AS DOUBLE)
        / CAST(len(words) AS DOUBLE) > 0.2 AS keep
FROM w
"""


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        text.token_count_ws(F.col("text")).alias("ws_tokens"),
        text.token_count_regex(F.col("text")).alias("re_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("re_tokens").alias("total_re_tokens"),
            F.expr(
                half_up6_spark("sum(ws_tokens)", "count(1)")
            ).alias("avg_tokens_per_doc"),
        )
        .orderBy("source")
    )


TEXT_TOKENS_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS re_tokens
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(re_tokens) AS BIGINT) AS total_re_tokens,
       {half_up6_duck("SUM(ws_tokens)", "COUNT(*)")}
         AS avg_tokens_per_doc
FROM per_doc
GROUP BY source
ORDER BY source
"""


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus vocabulary by term frequency with doc frequency."""
    docs = load_table(spark, sf_dir, "documents")
    return text.vocabulary(docs, top_k=200)


TEXT_VOCAB_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
           AS term
  FROM documents
)
SELECT term,
       COUNT(*) AS tf,
       COUNT(DISTINCT doc_id) AS df
FROM terms
GROUP BY term
ORDER BY tf DESC, term
LIMIT 200
"""


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs)


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return (
        "CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        f"x -> x IN ({quoted}))) AS INT)"
    )


_SCORES = {
    lang: _lang_score_sql(markers)
    for lang, markers in text.LANG_MARKERS.items()
}

LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
    {_SCORES['en']} AS score_en,
    {_SCORES['es']} AS score_es,
    {_SCORES['de']} AS score_de,
    {_SCORES['fr']} AS score_fr,
    {_SCORES['zh']} AS score_zh
  FROM documents
)
SELECT doc_id, lang, score_en, score_es, score_de, score_fr, score_zh,
  CASE
    WHEN score_en >= GREATEST(score_es, score_de, score_fr, score_zh) THEN 'en'
    WHEN score_es >= GREATEST(score_de, score_fr, score_zh) THEN 'es'
    WHEN score_de >= GREATEST(score_fr, score_zh) THEN 'de'
    WHEN score_fr >= score_zh THEN 'fr'
    ELSE 'zh'
  END AS pred_lang,
  CASE
    WHEN score_en >= GREATEST(score_es, score_de, score_fr, score_zh) THEN 'en'
    WHEN score_es >= GREATEST(score_de, score_fr, score_zh) THEN 'es'
    WHEN score_de >= GREATEST(score_fr, score_zh) THEN 'de'
    WHEN score_fr >= score_zh THEN 'fr'
    ELSE 'zh'
  END = lang AS lang_match
FROM scored
"""


def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + character-composition filters."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_features(docs).orderBy("doc_id")


TEXT_GOPHER_SQL = """
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS toks
  FROM documents
), r AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    ROUND(CAST(list_max(list_transform(list_distinct(toks),
            t2 -> len(list_filter(toks, x -> x = t2)))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE), 6) AS top_term_ratio,
    ROUND(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
          / CAST(len(text) AS DOUBLE), 6) AS digit_char_ratio,
    ROUND(CAST(len(regexp_replace(text, '[^\\s]', '', 'g')) AS DOUBLE)
          / CAST(len(text) AS DOUBLE), 6) AS space_char_ratio
  FROM t
)
SELECT doc_id, n_tokens, top_term_ratio, digit_char_ratio,
       space_char_ratio,
       top_term_ratio <= 0.2 AND digit_char_ratio <= 0.3
         AND space_char_ratio <= 0.35 AS keep
FROM r
ORDER BY doc_id
"""


def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: the synthetic corpus carries no PII, so each doc is
    planted with a deterministic email + phone derived from doc_id, then
    scrubbed; the gate hashes the scrubbed text and counts the hits —
    both engines plant, find and redact the identical strings."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    raw = docs.select("doc_id", planted.alias("raw"))
    n_emails, n_phones = text.pii_counts(F.col("raw"))
    return raw.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(text.scrub_pii(F.col("raw"))).alias("scrub_md5"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = """
WITH raw AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(raw,
       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(raw, '\\+[0-9]-[0-9]{3}-[0-9]{4}')) AS INT)
    AS n_phones,
  md5(regexp_replace(
        regexp_replace(raw,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        '\\+[0-9]-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
FROM raw
ORDER BY doc_id
"""


def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash per doc. Oracled since round 3: DuckDB
    replays the identical base-31 mod-1e9+7 fold with ``list_reduce``
    over per-character codepoints (both engines' ``ascii`` returns the
    Unicode codepoint, so the fold matches byte-for-byte)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.rolling_fingerprint(F.col("text")).alias("fingerprint"),
    )


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
    list_reduce(
      list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
      (acc, c) -> (acc * 31 + c) % 1000000007)
  END AS BIGINT) AS fingerprint
FROM documents
"""


BM25_TERMS = ("spark", "merge", "window", "filter")
BM25_TOP_K = 100


def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus for a fixed term bag — tf one
    hash agg, df/N/avgdl broadcast scalars, score one more agg; ranking
    two-phase (TakeOrderedAndProject top-k, then a k-row window — no
    unpartitioned window over the unbounded matched set); oracle replays
    the exact formula (ln + rounding to 6 dp) and the same top-k cut."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_rank(docs, BM25_TERMS, top_k=BM25_TOP_K).orderBy("rank")


TEXT_BM25_SQL = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
           AS dl,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         AVG(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
             AS DOUBLE)) AS avgdl
  FROM documents
), matched AS (
  SELECT * FROM toks
  WHERE term IN ('spark', 'merge', 'window', 'filter')
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf,
         ANY_VALUE(dl) AS dl
  FROM matched GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM matched GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS w
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
), per_doc AS (
  SELECT doc_id, ROUND(SUM(w), 6) AS bm25,
         COUNT(*) AS n_terms_matched
  FROM scored GROUP BY doc_id
)
SELECT doc_id, bm25, n_terms_matched,
       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
FROM per_doc
ORDER BY rank
LIMIT 100
"""


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation, gated like the other
    approximate ops (engine-local invariants): the top-20 exact heavy
    hitters hash-gate the true counts, and two booleans pin the CMS
    guarantees — estimates never undercount, and overshoot stays within
    ``8*N/w`` (far looser than the ``e*N/w`` w.p. ``1-exp(-d)`` bound,
    so a correct sketch cannot flake the gate)."""
    from near_event_streams_spark.operators import sketch as cms

    d, w = 4, 1024
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            dedup.words_col(F.lower(F.col("text")))
        ).alias("term")
    )
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("n_tokens"))
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("term"))
        .limit(20)
    )
    est = cms.cms_estimate(
        cms.cms_build(toks, d=d, w=w), exact.select("term"), d=d, w=w
    )
    return (
        exact.join(est, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "true_count",
            (F.col("est_count") >= F.col("true_count")).alias(
                "est_ge_true_ok"
            ),
            (
                (F.col("est_count") - F.col("true_count")).cast("double")
                <= 8.0 * F.col("n_tokens") / float(w)
            ).alias("est_within_ok"),
        )
        .orderBy(F.desc("true_count"), F.asc("term"))
    )


SKETCH_CMS_SQL = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS true_count,
       TRUE AS est_ge_true_ok,
       TRUE AS est_within_ok
FROM toks
GROUP BY term
ORDER BY true_count DESC, term
LIMIT 20
"""


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplication profile: per doc, the fraction of
    its positional word 8-grams occurring in >=2 documents."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_ngram_stats(docs, n=8).orderBy("doc_id")


DEDUP_SUBSTRING_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
  FROM documents
), glist AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 8
      THEN list_transform(range(1, len(ws) - 6),
             i -> array_to_string(list_slice(ws, i, i + 7), ' '))
      ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM w
), grams AS (
  SELECT doc_id, unnest(grams) AS gram FROM glist
), gd AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gram
), per AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE gd.n_docs >= 2) AS n_dup_grams
  FROM grams g JOIN gd USING (gram) GROUP BY g.doc_id
)
SELECT l.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
            ELSE {half_up6_duck("p.n_dup_grams", "p.n_grams")}
       END AS dup_fraction
FROM glist l LEFT JOIN per p USING (doc_id)
ORDER BY l.doc_id
"""


def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span REMOVAL: corpus-wide duplicated 16-token
    spans are cut everywhere but their first occurrence and each doc is
    reassembled from what survives (the removal half of the
    ``dedup_substring_spans`` profile)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs, span_tokens=16).orderBy(
        "doc_id"
    )


DEDUP_REMOVE_SPANS_SQL = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
), spans AS (
  SELECT doc_id, CAST(i AS INT) AS span_idx,
         array_to_string(list_slice(ws, i * 16 + 1, i * 16 + 16), ' ')
           AS span_text
  FROM w, unnest(range(0, (len(ws) + 15) // 16)) t(i)
), marked AS (
  SELECT doc_id, span_idx, span_text,
         row_number() OVER (PARTITION BY span_text
                            ORDER BY doc_id, span_idx) = 1 AS kept
  FROM spans
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN kept THEN span_text END, ' '
                           ORDER BY span_idx), '') AS clean_text,
       CAST(COUNT(*) AS INT) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE NOT kept) AS INT) AS n_spans_removed
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


def text_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram LM quality score (perplexity-style signal); the
    corpus is its own model, so the oracle replays it exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lm_bigram_logprob(docs).orderBy("doc_id")


TEXT_LM_SQL = """
WITH norm AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), bigrams AS (
  SELECT doc_id,
         unnest(CASE WHEN length(t) >= 2
           THEN list_transform(range(1, length(t)),
                               i -> substring(t, i, 2))
           ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM norm
), model AS (
  SELECT bigram, COUNT(*) AS bg_count,
         substring(bigram, 1, 1) AS prefix
  FROM bigrams GROUP BY bigram
), pf AS (
  SELECT prefix, SUM(bg_count) AS pf_count FROM model GROUP BY prefix
), lp AS (
  SELECT m.bigram,
         ln(CAST(m.bg_count AS DOUBLE) / CAST(p.pf_count AS DOUBLE))
           AS logp
  FROM model m JOIN pf p USING (prefix)
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(l.logp), 6) AS avg_logprob
FROM bigrams b JOIN lp l USING (bigram)
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, top_n=3).orderBy(
        "doc_id", "term_rank"
    )


TEXT_TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM terms GROUP BY term
), nd AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
), s AS (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf_count,
         ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term), nd
), r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS term_rank
  FROM s
)
SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, term, tf_count,
       tfidf
FROM r WHERE term_rank <= 3
ORDER BY doc_id, term_rank
"""


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by PMI (min pair count 5)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.pmi_collocations(docs, min_count=5, top_k=50)


TEXT_PMI_SQL = """
WITH ws AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
), uc AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (SELECT unnest(w) AS tok FROM ws) GROUP BY tok
), tu AS (
  SELECT SUM(c) AS t_uni FROM uc
), bg AS (
  SELECT CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
    ELSE CAST([] AS VARCHAR[]) END AS bgs
  FROM ws
), bcc AS (
  SELECT bg, CAST(COUNT(*) AS DOUBLE) AS c_xy
  FROM (SELECT unnest(bgs) AS bg FROM bg)
  GROUP BY bg HAVING COUNT(*) >= 5
), tb AS (
  SELECT CAST(SUM(len(bgs)) AS DOUBLE) AS t_bi FROM bg
), j AS (
  SELECT split_part(bg, ' ', 1) AS x, split_part(bg, ' ', 2) AS y, c_xy
  FROM bcc
)
SELECT j.x, j.y, CAST(c_xy AS BIGINT) AS pair_count,
       ROUND(ln((c_xy / t_bi)
                / ((cx.c / t_uni) * (cy.c / t_uni))), 6) AS pmi
FROM j JOIN uc cx ON j.x = cx.tok JOIN uc cy ON j.y = cy.tok, tu, tb
ORDER BY pmi DESC, j.x, j.y
LIMIT 50
"""


def text_token_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding against the corpus top-128 vocabulary (UNK=0),
    id lists serialized for the driver canon."""
    docs = load_table(spark, sf_dir, "documents")
    return text.encode_token_ids(docs, vocab_size=128).orderBy("doc_id")


TEXT_ENCODE_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS toks
  FROM documents
), terms AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS term
  FROM t, unnest(range(1, len(toks) + 1)) u(i)
), vocab AS (
  SELECT term, COUNT(*) AS tf FROM terms GROUP BY term
  ORDER BY tf DESC, term LIMIT 128
), vids AS (
  SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS token_id
  FROM vocab
), enc AS (
  SELECT doc_id, pos, COALESCE(v.token_id, 0) AS tid
  FROM terms LEFT JOIN vids v USING (term)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE tid = 0) AS BIGINT) AS n_unk,
       string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS token_ids
FROM enc GROUP BY doc_id
ORDER BY doc_id
"""


def text_quality_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed naive-Bayes classifier distilled from the Gopher keep-gate
    teacher, scored over the whole corpus (fastText-style quality
    classifier with the hashing trick — model fixed at 4096 slots)."""
    docs = load_table(spark, sf_dir, "documents")
    teacher = text.repetition_features(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    return text.nb_quality_distill(docs, teacher, buckets=4096).orderBy(
        "doc_id"
    )


# CTE chain shared by TEXT_DISTILL_SQL and QUALITY_PR_SQL: the full
# hashing-trick NB distillation ending in the `scored` relation
_DISTILL_BODY = """
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS toks
  FROM documents
), lab AS (
  SELECT doc_id,
    ROUND(CAST(list_max(list_transform(list_distinct(toks),
            t2 -> len(list_filter(toks, x -> x = t2)))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE), 6) <= 0.2
    AND ROUND(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
          / CAST(len(text) AS DOUBLE), 6) <= 0.3
    AND ROUND(CAST(len(regexp_replace(text, '[^\\s]', '', 'g')) AS DOUBLE)
          / CAST(len(text) AS DOUBLE), 6) <= 0.35 AS label
  FROM t
), tok AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(w || '|' || 'clf'), 1, 8))
             AS UBIGINT) % 4096 AS BIGINT) AS bucket
  FROM (SELECT doc_id, unnest(toks) AS w FROM t)
), tl AS (
  SELECT tok.bucket, lab.label FROM tok JOIN lab USING (doc_id)
), cls AS (
  SELECT bucket,
         COUNT(*) FILTER (WHERE label) AS c_pos,
         COUNT(*) FILTER (WHERE NOT label) AS c_neg
  FROM tl GROUP BY bucket
), tot AS (
  SELECT COUNT(*) FILTER (WHERE label) AS n_pos,
         COUNT(*) FILTER (WHERE NOT label) AS n_neg
  FROM tl
), dtot AS (
  SELECT COUNT(*) FILTER (WHERE label) AS d_pos,
         COUNT(*) FILTER (WHERE NOT label) AS d_neg
  FROM lab
), wt AS (
  SELECT bucket,
         ln(CAST(c_pos + 1 AS DOUBLE) / CAST(n_pos + 4096 AS DOUBLE))
         - ln(CAST(c_neg + 1 AS DOUBLE) / CAST(n_neg + 4096 AS DOUBLE))
           AS weight
  FROM cls, tot
), sc AS (
  SELECT doc_id,
         AVG(COALESCE(weight,
             ln(1.0 / CAST(n_pos + 4096 AS DOUBLE))
             - ln(1.0 / CAST(n_neg + 4096 AS DOUBLE)))) AS avg_w,
         CAST(COUNT(*) AS INT) AS n_tokens
  FROM (tok LEFT JOIN wt USING (bucket)) CROSS JOIN tot GROUP BY doc_id
)
, scored AS (
  SELECT sc.doc_id, lab.label, sc.n_tokens,
    ROUND(ln(CAST(d_pos + 1 AS DOUBLE) / CAST(d_neg + 1 AS DOUBLE))
          + sc.avg_w, 6) AS clf_score,
    (ln(CAST(d_pos + 1 AS DOUBLE) / CAST(d_neg + 1 AS DOUBLE))
          + sc.avg_w) > 0 AS clf_pred
  FROM (sc LEFT JOIN lab USING (doc_id)) CROSS JOIN dtot
)
"""

TEXT_DISTILL_SQL = _DISTILL_BODY + """
SELECT doc_id, label, n_tokens, clf_score, clf_pred,
       clf_pred = label AS agree
FROM scored
ORDER BY doc_id
"""


def hist_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram of the corpus in 16 equi-width buckets —
    the packing/truncation diagnostic read before choosing a context
    budget (how much of the corpus exceeds the window?). Same shape as
    ``hist_order_totals``: one broadcast bounds aggregate, floor-based
    bucket arithmetic, a bounded bucket agg, and a spine that keeps
    empty buckets visible."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        text.token_count_regex(F.col("text")).cast("double").alias("v")
    )
    bounds = F.broadcast(
        d.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(16.0)
    bucket = F.least(
        F.floor((F.col("v") - F.col("lo")) / width).cast("long"),
        F.lit(15).cast("long"),
    )
    counts = (
        d.crossJoin(bounds)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = bounds.select(
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bucket"),
        "lo",
        "hi",
    )
    return (
        spine.join(counts, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.round(
                F.col("lo")
                + F.col("bucket") * (F.col("hi") - F.col("lo")) / 16.0,
                6,
            ).alias("bucket_lo"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
        .orderBy("bucket")
    )


HIST_DOC_TOKENS_SQL = """
WITH d AS (
  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
         AS DOUBLE) AS v
  FROM documents
), bounds AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM d
), counts AS (
  SELECT LEAST(CAST(floor((v - lo) / ((hi - lo) / 16.0)) AS BIGINT),
               CAST(15 AS BIGINT)) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM d, bounds GROUP BY 1
), spine AS (
  SELECT CAST(k AS BIGINT) AS bucket, lo, hi
  FROM bounds, unnest(range(0, 16)) t(k)
)
SELECT bucket,
       ROUND(lo + bucket * (hi - lo) / 16.0, 6) AS bucket_lo,
       COALESCE(n, 0) AS n
FROM spine LEFT JOIN counts USING (bucket)
ORDER BY bucket
"""


def text_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity (``text.source_token_entropy``):
    Shannon entropy over each source's full token distribution with
    token/vocab counts — the profile that pairs with the KL drift
    audit. 12dp-rounded contributions sum as exact decimals; oracle
    bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return text.source_token_entropy(docs)


TEXT_ENTROPY_SQL = """
WITH terms AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS term
  FROM documents
), gcounts AS (
  SELECT source, term, COUNT(*) AS c FROM terms GROUP BY 1, 2
), gtotals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM gcounts GROUP BY source
)
SELECT g.source, t.n_tokens, t.vocab_size,
  CAST(ROUND(SUM(CAST(ROUND(
      -(CAST(c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
      * ln(CAST(c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)), 12)
    AS DECIMAL(26,12))), 6) AS DOUBLE) AS entropy
FROM gcounts g JOIN gtotals t USING (source)
GROUP BY g.source, t.n_tokens, t.vocab_size
ORDER BY g.source
"""


def report_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: the per-source profile a corpus release
    ships — doc and token counts, mean length, quality-gate pass count,
    and exact-duplicate count — composed from the registry's own
    signals (quality keep-gate, md5 fingerprint dedup) in one pass plus
    one bounded fingerprint join.

    Shape: per-doc metrics are a narrow map; the dup flag is one
    fingerprint-keyed count joined back; the profile is a hash agg on
    the bounded source key. Exact integers and decimal-backed means
    keep the oracle bit-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("nc"),
        text.token_count_regex(F.col("text"))
        .cast("long")
        .alias("ntok"),
        F.md5(F.col("text")).alias("fp"),
    )
    keep = text.quality_features(docs).select("doc_id", "keep")
    fp_counts = per.groupBy("fp").agg(
        F.count(F.lit(1)).alias("fpc")
    )
    j = per.join(keep, "doc_id").join(fp_counts, "fp")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.expr(half_up6_spark("sum(nc)", "count(1)")).alias(
                "avg_chars"
            ),
            F.count(F.when(F.col("keep"), 1)).alias("n_quality_keep"),
            F.count(F.when(F.col("fpc") > 1, 1)).alias("n_exact_dup"),
        )
        .orderBy("source")
    )


SOURCE_PROFILE_SQL = f"""
WITH per AS (
  SELECT doc_id, source, text,
         CAST(LENGTH(text) AS BIGINT) AS nc,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
           AS BIGINT) AS ntok,
         md5(text) AS fp,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), keepf AS (
  SELECT doc_id,
    len(w) >= 5 AND len(w) <= 10000
    AND CAST(len(list_distinct(w)) AS DOUBLE)
        / CAST(len(w) AS DOUBLE) > 0.2 AS keep
  FROM per
), fpc AS (
  SELECT fp, COUNT(*) AS fpc FROM per GROUP BY fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       {half_up6_duck("SUM(nc)", "COUNT(*)")}
         AS avg_chars,
       CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_quality_keep,
       CAST(COUNT(*) FILTER (WHERE fpc > 1) AS BIGINT) AS n_exact_dup
FROM per JOIN keepf USING (doc_id) JOIN fpc USING (fp)
GROUP BY source
ORDER BY source
"""


def report_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shared-template matrix: for every source pair, how
    many distinct 8-word document OPENINGS (md5 of the first 8
    normalized words — the boilerplate/template fingerprint) appear in
    BOTH — the inter-source contamination map that tells you which
    "independent" sources share scraping templates or mirrors (pairs
    with the centroid-similarity view of the same question).

    Shape: dedupe to (fingerprint, source) once, then a fingerprint-
    keyed equi self-join whose volume is bounded by actual shared
    groups — never all docs × docs — and a bounded source-pair agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    head8 = F.array_join(
        F.slice(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 8
        ),
        " ",
    )
    fs = docs.select(F.md5(head8).alias("fp"), "source").distinct()
    a = fs.select("fp", F.col("source").alias("a_source"))
    b = fs.select("fp", F.col("source").alias("b_source"))
    return (
        a.join(b, "fp")
        .filter(F.col("a_source") < F.col("b_source"))
        .groupBy("a_source", "b_source")
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
        .orderBy("a_source", "b_source")
    )


CROSS_SOURCE_DUPS_SQL = """
WITH fs AS (
  SELECT DISTINCT
    md5(array_to_string(
      string_split_regex(trim(lower(text)), '\\s+')[1:8], ' ')) AS fp,
    source
  FROM documents
)
SELECT a.source AS a_source, b.source AS b_source,
       CAST(COUNT(*) AS BIGINT) AS n_shared_docs
FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY a_source, b_source
"""


def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (``text.dsir_importance``): the src0/src1
    sources play the target domain, every other doc gets the hashed
    bag-of-words log likelihood ratio DSIR resamples by. 12dp-rounded
    per-token weights sum as exact decimals, so the oracle replays the
    whole computation bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    is_tgt = F.col("source").isin("src0", "src1")
    return text.dsir_importance(
        docs.filter(~is_tgt), docs.filter(is_tgt), buckets=4096
    ).orderBy("doc_id")


DSIR_SQL = """
WITH raw_tok AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(w || '|' || 'dsir'), 1, 8))
             AS UBIGINT) % 4096 AS BIGINT) AS bucket
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
    FROM documents WHERE source NOT IN ('src0', 'src1'))
), tgt_tok AS (
  SELECT CAST(CAST(('0x' || substr(md5(w || '|' || 'dsir'), 1, 8))
             AS UBIGINT) % 4096 AS BIGINT) AS bucket
  FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
    FROM documents WHERE source IN ('src0', 'src1'))
), tc AS (
  SELECT bucket, COUNT(*) AS ct FROM tgt_tok GROUP BY bucket
), rc AS (
  SELECT bucket, COUNT(*) AS cr FROM raw_tok GROUP BY bucket
), tot AS (
  SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tc) AS nt,
         (SELECT CAST(SUM(cr) AS BIGINT) FROM rc) AS nr
), wt AS (
  SELECT bucket,
    ln((COALESCE(ct, 0) + 1.0) / (nt + 4096.0))
    - ln((COALESCE(cr, 0) + 1.0) / (nr + 4096.0)) AS w
  FROM (rc FULL JOIN tc USING (bucket)) CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(ROUND(SUM(CAST(ROUND(w, 12) AS DECIMAL(26,12))), 6)
             AS DOUBLE) AS importance
FROM raw_tok JOIN wt USING (bucket)
GROUP BY doc_id
ORDER BY doc_id
"""


def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-embedding clustering for corpus curation
    (``similarity.kmeans_lloyd_fixedpoint``, k=8, 3 Lloyd supersteps in
    exact integer units): the standard pre-step for cluster-balanced
    sampling / SemDeDup-style semantic partitioning. Iterative like
    PageRank and the BPE trainer, and oracle-gated the same way — the
    DuckDB SQL replays every assignment and centroid update
    bit-for-bit via chained CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd_fixedpoint(emb, k=8, iters=3)


def _kmeans_oracle_sql(
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    scale: int = 1_000_000,
    offset_units: int = 1_000_000,
    tail: str | None = None,
) -> str:
    """Chained-CTE DuckDB replay of fixed-point Lloyd: per superstep a
    distance CTE (exact bigint fold in index order), an argmin CTE
    (row_number ties to the lower cluster id) and — between supersteps
    — an exact integer centroid mean over (cluster, position). Same
    superstep-replay technique as ``PAGERANK_SQL`` and the BPE
    oracle. ``tail`` (referencing the final assignment CTE ``a{iters}``)
    lets composed queries — cluster-balanced sampling — reuse the whole
    replay; default tail emits the raw assignment."""
    parts = [
        f"""v AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT)
           + {offset_units}) AS u
  FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
           AS cluster,
         u AS cu
  FROM v ORDER BY vec_id LIMIT {k}
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i} AS (
  SELECT v.vec_id, c.cluster, v.u,
         list_reduce(list_transform(range(1, {dim + 1}),
             j -> (v.u[j] - c.cu[j]) * (v.u[j] - c.cu[j])),
           (a, b) -> a + b) AS dist
  FROM v CROSS JOIN c{i - 1} c
), a{i} AS (
  SELECT vec_id, cluster, u, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) AS rn
    FROM d{i}
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            parts.append(
                f"""m{i} AS (
  SELECT cluster, j,
         CAST(SUM(u[j]) // COUNT(*) AS BIGINT) AS mu
  FROM a{i} CROSS JOIN range(1, {dim + 1}) r(j)
  GROUP BY cluster, j
), c{i} AS (
  SELECT cluster, list(mu ORDER BY j) AS cu FROM m{i} GROUP BY cluster
)"""
            )
    if tail is None:
        tail = (
            f"SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist_units"
            f"\nFROM a{iters} ORDER BY vec_id"
        )
    return "WITH " + ",\n".join(parts) + "\n" + tail


EMB_KMEANS_SQL = _kmeans_oracle_sql()


def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced (diversity-preserving) sampling: k-means the
    embedding space, then keep up to 25 vectors per cluster by
    deterministic md5 priority (``curation.cap_per_group`` over the
    ``kmeans_lloyd_fixedpoint`` assignment) — the semantic twin of the
    per-source cap: a corpus dominated by one embedding region can't
    dominate the sample. Fully deterministic end-to-end, so the oracle
    replays the whole composition: the k-means superstep chain plus the
    md5-ranked cap."""
    from near_event_streams_spark.operators import curation as cur

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_lloyd_fixedpoint(emb, k=8, iters=3)
    pri = cur.hash_bucket(
        F.col("vec_id").cast("string"), salt="cb-v1", buckets=10**9
    )
    capped = cur.cap_per_group(
        assigned.withColumn("neg_pri", -pri),
        group_col="cluster",
        order_col="neg_pri",
        cap=25,
        id_col="vec_id",
    )
    return (
        capped.filter(F.col("kept"))
        .select("cluster", "vec_id", "group_rank")
        .orderBy("cluster", "vec_id")
    )


CLUSTER_SAMPLE_SQL = _kmeans_oracle_sql(
    tail="""
, pri AS (
  SELECT cluster, vec_id,
         CAST(CAST(('0x' || substr(
               md5(CAST(vec_id AS VARCHAR) || '|' || 'cb-v1'), 1, 8))
             AS UBIGINT) % 1000000000 AS BIGINT) AS b
  FROM a3
), ranked AS (
  SELECT cluster, vec_id,
         CAST(row_number() OVER (PARTITION BY cluster
                                 ORDER BY b, vec_id) AS INT)
           AS group_rank
  FROM pri
)
SELECT cluster, vec_id, group_rank FROM ranked
WHERE group_rank <= 25
ORDER BY cluster, vec_id
"""
)


def emb_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-similarity map (``similarity.group_centroid_similarity``):
    pairwise cosine between per-source embedding centroids — which
    sources overlap in embedding space and which carry the diversity.
    One corpus-collapse aggregate, then a broadcast self-join over the
    bounded source count; exact-decimal mean sums and sequential cosine
    folds make the oracle bit-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    j = emb.join(docs, "vec_id")
    return similarity.group_centroid_similarity(
        j, group_col="source", vec_col="embedding", dim=64
    )


EMB_SOURCE_SIM_SQL = """
WITH j AS (
  SELECT d.source, e.embedding
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), m AS (
  SELECT source, i,
    CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 12)
             AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*) AS mi
  FROM j, unnest(range(1, 65)) t(i)
  GROUP BY source, i
), c AS (
  SELECT source, list(mi ORDER BY i) AS cvec FROM m GROUP BY source
)
SELECT a.source AS a_source, b.source AS b_source,
  ROUND(
    list_reduce(list_prepend(0.0,
        list_transform(range(1, 65), i -> a.cvec[i] * b.cvec[i])),
        (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_prepend(0.0,
          list_transform(a.cvec, x -> x * x)), (acc, x) -> acc + x))
       * sqrt(list_reduce(list_prepend(0.0,
          list_transform(b.cvec, x -> x * x)), (acc, x) -> acc + x))),
    6) AS centroid_cosine
FROM c a JOIN c b ON a.source < b.source
ORDER BY a_source, b_source
"""


def multimodal_resize_rasters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize, driver-gated by construction
    arithmetic: the same nation-keyed P3 payloads as
    ``multimodal_decode_rasters`` are resized to 4×4 through the actual
    pixel-sampling ``mapInPandas`` path; the oracle recomputes every
    sampled byte ((y·h//4, x·w//4) pixel selection), their mean and the
    base-131 rolling checksum — matching values prove real pixel access,
    not metadata echo."""
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    w = (k % 5 + 2).cast("int")
    h = (k % 3 + 2).cast("int")
    samples = F.transform(
        F.sequence(F.lit(0), (w * h * 3 - 1).cast("long")),
        lambda i: (k * 7 + i * 13) % 256,
    )
    ppm = F.concat(
        F.lit("P3\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
        F.array_join(samples, " "),
    )
    media = multimodal.as_media_table(
        nation.select(k.alias("n_nationkey"), ppm.alias("ppm")),
        id_col="n_nationkey",
        payload_col="ppm",
    )
    return multimodal.resize_nearest(media, out_w=4, out_h=4).orderBy(
        "media_id"
    )


MULTIMODAL_RESIZE_SQL = """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
         CAST(n_nationkey % 5 + 2 AS INT) AS w,
         CAST(n_nationkey % 3 + 2 AS INT) AS h
  FROM nation
), sampled AS (
  SELECT media_id, w, h,
    list_transform(range(0, 48), j ->
      (media_id * 7
       + ((((j // 12) * h // 4) * w + (((j // 3) % 4) * w // 4)) * 3
          + j % 3) * 13) % 256) AS vals
  FROM base
)
SELECT media_id,
       w AS src_w, h AS src_h,
       CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
       TRUE AS decoded,
       ROUND(CAST(list_sum(vals) AS DOUBLE) / 48.0, 6) AS resized_mean,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
            (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT)
         AS resized_checksum
FROM sampled
ORDER BY media_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the real byte-slicing ``mapInPandas``
    path: nation-keyed synthetic 'videos' of (k%6+2) 16-byte grayscale
    frames; every 2nd frame emitted with its byte mean. Oracle replays
    the construction arithmetic per sampled frame."""
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    n_frames = (k % 6 + 2).cast("int")
    payload = F.array_join(
        F.transform(
            F.sequence(
                F.lit(0), (n_frames * 16 - 1).cast("long")
            ),
            lambda i: F.char((k * 7 + i * 13) % 95 + 33),
        ),
        "",
    )
    media = multimodal.as_media_table(
        nation.select(k.alias("n_nationkey"), payload.alias("vid")),
        id_col="n_nationkey",
        payload_col="vid",
    )
    return multimodal.sample_video_frames(
        media, frame_bytes=16, every_k=2
    ).orderBy("media_id", "frame_idx")


MULTIMODAL_FRAMES_SQL = """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
         CAST(n_nationkey % 6 + 2 AS INT) AS n_frames
  FROM nation
), frames AS (
  SELECT media_id, n_frames, CAST(f AS INT) AS frame_idx
  FROM base, unnest(list_filter(range(0, n_frames), f -> f % 2 = 0)) t(f)
)
SELECT media_id, frame_idx, n_frames,
  ROUND(CAST(list_sum(list_transform(range(0, 16), j ->
        (media_id * 7 + (frame_idx * 16 + j) * 13) % 95 + 33))
      AS DOUBLE) / 16.0, 6) AS frame_mean
FROM frames
ORDER BY media_id, frame_idx
"""


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (``text.bpe_learn_merges``,
    8 merges): corpus touched once for the word-frequency table, the
    merge loop runs on that bounded table. The merge sequence is fully
    deterministic (ties break lexicographically), pinned three ways:
    planted-corpus unit tests, a pure-Python Sennrich reference replay
    on random corpora, and the chained-CTE DuckDB oracle below that
    re-runs all 8 supersteps bit-for-bit (same technique as
    ``PAGERANK_SQL``)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_learn_merges(docs, n_merges=8)


def _bpe_oracle_sql(n_merges: int = 8, tail: str | None = None) -> str:
    """Chained-CTE DuckDB replay of the BPE merge loop.

    Stage 0 builds the char-split word-frequency table (the one corpus
    scan); each merge ``i`` is three CTEs mirroring the Spark loop in
    ``text.bpe_learn_merges`` exactly:

    - ``p{i}``: adjacent-pair counts weighted by word freq
      (``list_zip`` of the two length-(n-1) slices = Spark's
      ``zip_with(slice, slice)``),
    - ``b{i}``: best pair by ``(cnt DESC, l, r)`` — the lexicographic
      tie-break,
    - ``w{i}``: greedy left-to-right merge-apply via ``list_reduce``
      over singleton lists (= Spark's ``F.aggregate`` fold; DuckDB's
      ``list_reduce`` seeds with the first element, so each symbol is
      lifted to ``[s]`` and the fold concatenates/merges lists).

    An exhausted corpus short-circuits identically: an empty ``b{i}``
    empties every later stage and the UNION simply has fewer rows.
    """
    parts = [
        """w0 AS (
  SELECT regexp_extract_all(w, '.') AS sym,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text),
                                         '[a-z]+|[0-9]+')) AS w
        FROM documents)
  GROUP BY w
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""p{i} AS (
  SELECT (z.pr)[1] AS l, (z.pr)[2] AS r,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM w{i - 1},
       unnest(list_zip(sym[:len(sym) - 1], sym[2:])) z(pr)
  GROUP BY 1, 2
), b{i} AS (
  SELECT l, r, l || r AS merged, cnt FROM p{i}
  ORDER BY cnt DESC, l, r LIMIT 1
), w{i} AS (
  SELECT list_reduce(
           list_transform(sym, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) > 0
                            AND acc[-1] = b.l AND x[1] = b.r
                       THEN acc[:len(acc) - 1] || [b.merged]
                       ELSE acc || x END) AS sym,
         freq
  FROM w{i - 1} CROSS JOIN b{i} b
)"""
        )
    if tail is None:
        unions = "\nUNION ALL\n".join(
            f'SELECT CAST({i} AS INT) AS iteration, l AS "left",'
            f' r AS "right", merged, cnt AS pair_count FROM b{i}'
            for i in range(1, n_merges + 1)
        )
        tail = (
            "SELECT * FROM (\n" + unions + "\n) ORDER BY iteration"
        )
    return "WITH " + ",\n".join(parts) + "\n" + tail


TEXT_BPE_MERGES_SQL = _bpe_oracle_sql(8)


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer pipeline: train 8 BPE merges on the corpus
    (``text.bpe_learn_merges``), then ENCODE the corpus with them
    (``text.bpe_apply_counts`` — merge folds run once per distinct
    word, docs join the encoded vocab) and report per-doc word / char /
    BPE-token counts. The oracle replays training via the merge-loop
    CTE chain AND the encode via a second chain of ``list_reduce``
    folds over the learned ``b{i}`` pairs — train and apply gated
    together, end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    merges_df = text.bpe_learn_merges(docs, n_merges=8)
    merges = [
        (r["left"], r["right"], r["merged"])
        for r in merges_df.collect()
    ]
    return text.bpe_apply_counts(docs, merges)


def _bpe_apply_tail(n_merges: int = 8) -> str:
    stages = [
        """, av0 AS (
  SELECT w, regexp_extract_all(w, '.') AS sym
  FROM (SELECT DISTINCT unnest(regexp_extract_all(lower(text),
                                                  '[a-z]+|[0-9]+')) AS w
        FROM documents)
)"""
    ]
    # LEFT JOIN ON TRUE, not CROSS JOIN: a corpus that exhausts before
    # n_merges leaves b{i} EMPTY, and a cross join would collapse every
    # later av stage — and the final doc join — to zero rows, while the
    # Spark side (text_bpe_apply) just applies the merges the trainer
    # actually produced. With the left join an empty b{i} yields NULL
    # b.l and the CASE passes sym through unchanged — both engines
    # degrade identically on degenerate corpora.
    for i in range(1, n_merges + 1):
        stages.append(
            f""", av{i} AS (
  SELECT w, CASE WHEN b.l IS NULL THEN sym
            ELSE list_reduce(
           list_transform(sym, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) > 0
                            AND acc[-1] = b.l AND x[1] = b.r
                       THEN acc[:len(acc) - 1] || [b.merged]
                       ELSE acc || x END) END AS sym
  FROM av{i - 1} LEFT JOIN b{i} b ON TRUE
)"""
        )
    return (
        "".join(stages)
        + f""", doc_toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text),
                                           '[a-z]+|[0-9]+')) AS w
  FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(v.w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(v.sym)) AS BIGINT) AS n_bpe_tokens
FROM doc_toks d JOIN av{n_merges} v USING (w)
GROUP BY doc_id ORDER BY doc_id"""
    )


TEXT_BPE_APPLY_SQL = _bpe_oracle_sql(8, tail=_bpe_apply_tail(8))


def text_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-shift audit: smoothed KL divergence of
    each source's token distribution against the corpus distribution
    over the corpus top-512 vocabulary (``text.kl_source_drift``) —
    KL terms round to 12 dp and sum as exact decimals, so the oracle
    replays the whole computation bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return text.kl_source_drift(docs, vocab_size=512)


TEXT_KL_DRIFT_SQL = """
WITH terms AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS term
  FROM documents
), gcounts AS (
  SELECT source, term, COUNT(*) AS c FROM terms GROUP BY 1, 2
), ccounts AS (
  SELECT term, CAST(SUM(c) AS BIGINT) AS ctf FROM gcounts GROUP BY 1
), vocab AS (
  SELECT term, ctf FROM ccounts ORDER BY ctf DESC, term LIMIT 512
), gtotals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS g_total
  FROM gcounts GROUP BY 1
), ctotal AS (
  SELECT CAST(SUM(ctf) AS BIGINT) AS c_total FROM ccounts
), grid AS (
  SELECT gt.source, gt.g_total, v.term, v.ctf, gc.c, c_total
  FROM gtotals gt CROSS JOIN vocab v
  LEFT JOIN gcounts gc ON gc.source = gt.source AND gc.term = v.term
  CROSS JOIN ctotal
), kl AS (
  SELECT source, g_total,
    SUM(CAST(ROUND(
      ((COALESCE(c, 0) + 1.0) / (g_total + 512.0))
      * ln(((COALESCE(c, 0) + 1.0) / (g_total + 512.0))
           / ((ctf + 1.0) / (c_total + 512.0))), 12)
      AS DECIMAL(26,12))) AS _kl
  FROM grid GROUP BY 1, 2
)
SELECT source, g_total AS n_tokens,
       CAST(ROUND(_kl, 6) AS DOUBLE) AS kl_divergence
FROM kl ORDER BY source
"""


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunks (32 tokens, 8 overlap) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, chunk_size=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


TEXT_CHUNKING_SQL = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), sized AS (
  SELECT doc_id, w, len(w) AS n,
         GREATEST(CAST(CEIL(CAST(len(w) - 8 AS DOUBLE) / 24.0) AS INT), 1)
           AS n_chunks
  FROM words
)
SELECT doc_id,
       CAST(s.i AS INT) AS chunk_id,
       array_to_string(list_slice(w, s.i * 24 + 1, s.i * 24 + 32), ' ')
         AS chunk_text,
       CAST(LEAST(n - s.i * 24, 32) AS INT) AS n_tokens
FROM sized, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) s
ORDER BY doc_id, chunk_id
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation — the composition the individual
    operators exist for: quality gate → exact dedup (keep min doc_id per
    normalized text) → sliding-window chunking. One narrow pass plus one
    dedup shuffle; chunking adds no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    quality = docs.filter(
        (F.col("n_chars") >= 50) & (F.size(words) >= 8)
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    keep = (
        quality.withColumn("_norm", norm)
        .groupBy("_norm")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = quality.join(keep, "doc_id", "left_semi")
    return text.chunk_documents(
        survivors, chunk_size=32, overlap=8
    ).orderBy("doc_id", "chunk_id")


CURATION_SQL = """
WITH quality AS (
  SELECT doc_id, text FROM documents
  WHERE n_chars >= 50
    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 8
), keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM quality
  GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
), survivors AS (
  SELECT q.doc_id, q.text FROM quality q JOIN keep USING (doc_id)
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM survivors
), sized AS (
  SELECT doc_id, w, len(w) AS n,
         GREATEST(CAST(CEIL(CAST(len(w) - 8 AS DOUBLE) / 24.0) AS INT), 1)
           AS n_chunks
  FROM words
)
SELECT doc_id,
       CAST(s.i AS INT) AS chunk_id,
       array_to_string(list_slice(w, s.i * 24 + 1, s.i * 24 + 32), ' ')
         AS chunk_text,
       CAST(LEAST(n - s.i * 24, 32) AS INT) AS n_tokens
FROM sized, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) s
ORDER BY doc_id, chunk_id
"""


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.as_media_table(docs)
    return media.select(
        "media_id", "media_type", "n_bytes", "magic_hex"
    ).orderBy("media_id")


MULTIMODAL_META_SQL = """
SELECT doc_id AS media_id,
       CASE
         WHEN lower(hex(substring(text, 1, 4))) = '89504e47'
           THEN 'image/png'
         WHEN lower(hex(substring(text, 1, 4))) = 'ffd8ffe0'
           THEN 'image/jpeg'
         WHEN lower(hex(substring(text, 1, 4))) = '52494646'
           THEN 'audio/wav'
         WHEN lower(hex(substring(text, 1, 4))) = '00000018'
           THEN 'video/mp4'
         WHEN lower(hex(substring(text, 1, 4))) LIKE '424d%'
           THEN 'image/bmp'
         WHEN lower(hex(substring(text, 1, 4))) LIKE '5036%'
           OR lower(hex(substring(text, 1, 4))) LIKE '5033%'
           THEN 'image/x-portable-pixmap'
         ELSE 'application/octet-stream'
       END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       lower(hex(substring(text, 1, 4))) AS magic_hex
FROM documents
ORDER BY media_id
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over the documents-as-media table.

    Fully oracled since round 3: no document payload is a decodable
    raster (none starts with the BM/P6/P3 magic — asserted over all
    testdata SFs), so every row takes the byte-statistics fallback,
    whose polynomial checksum the DuckDB oracle replays exactly with a
    ``list_reduce`` fold over the payload's hex pairs. The REAL decode
    path is driver-gated separately by ``multimodal_decode_rasters``.
    """
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_features(
        multimodal.as_media_table(docs)
    ).orderBy("media_id")


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CASE
         WHEN lower(hex(substring(text, 1, 4))) = '89504e47'
           THEN 'image/png'
         WHEN lower(hex(substring(text, 1, 4))) = 'ffd8ffe0'
           THEN 'image/jpeg'
         WHEN lower(hex(substring(text, 1, 4))) = '52494646'
           THEN 'audio/wav'
         WHEN lower(hex(substring(text, 1, 4))) = '00000018'
           THEN 'video/mp4'
         WHEN lower(hex(substring(text, 1, 4))) LIKE '424d%'
           THEN 'image/bmp'
         WHEN lower(hex(substring(text, 1, 4))) LIKE '5036%'
           OR lower(hex(substring(text, 1, 4))) LIKE '5033%'
           THEN 'image/x-portable-pixmap'
         ELSE 'application/octet-stream'
       END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS height,
       CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0 ELSE
         list_reduce(
           list_transform(range(1, octet_length(encode(text)) + 1),
             i -> CAST('0x' || substring(hex(encode(text)), 2*i - 1, 2)
                       AS BIGINT)),
           (acc, b) -> (acc * 131 + b) % 1000000007)
       END AS BIGINT) AS checksum,
       FALSE AS decoded,
       CAST(NULL AS DOUBLE) AS mean_pixel
FROM documents
ORDER BY media_id
"""


def multimodal_decode_rasters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raster decode, driver-gated: synthesize ASCII PPM (P3)
    payloads from nation-keyed arithmetic — ``P3\\n<w> <h>\\n255\\n``
    plus ``w*h*3`` deterministic samples — then run the actual
    ``decode_ppm`` header tokenizer + sample parse through the
    ``mapInPandas`` extractor. The oracle replays the construction
    arithmetic (dims, byte length, sample mean) in SQL, so
    width/height/mean_pixel coming back right proves the decoder parsed
    the bytes, not the metadata."""
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    w = (k % 5 + 2).cast("int")
    h = (k % 3 + 2).cast("int")
    samples = F.transform(
        F.sequence(F.lit(0), (w * h * 3 - 1).cast("long")),
        lambda i: (k * 7 + i * 13) % 256,
    )
    ppm = F.concat(
        F.lit("P3\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
        F.array_join(samples, " "),
    )
    media = multimodal.as_media_table(
        nation.select(k.alias("n_nationkey"), ppm.alias("ppm")),
        id_col="n_nationkey",
        payload_col="ppm",
    )
    return (
        multimodal.extract_features(media)
        .select(
            "media_id",
            "media_type",
            "n_bytes",
            "width",
            "height",
            "decoded",
            "mean_pixel",
        )
        .orderBy("media_id")
    )


MULTIMODAL_DECODE_SQL = """
WITH gen AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         CAST(n_nationkey % 5 + 2 AS INT) AS w,
         CAST(n_nationkey % 3 + 2 AS INT) AS h
  FROM nation
), built AS (
  SELECT k, w, h,
         'P3' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10) ||
           array_to_string(
             list_transform(range(0, w * h * 3),
                            i -> (k * 7 + i * 13) % 256), ' ')
           AS ppm,
         list_transform(range(0, w * h * 3),
                        i -> (k * 7 + i * 13) % 256) AS samples
  FROM gen
)
SELECT k AS media_id,
       'image/x-portable-pixmap' AS media_type,
       CAST(octet_length(encode(ppm)) AS BIGINT) AS n_bytes,
       w AS width,
       h AS height,
       TRUE AS decoded,
       ROUND(CAST(list_sum(samples) AS DOUBLE) / (w * h * 3), 6)
         AS mean_pixel
FROM built
ORDER BY media_id
"""


def _image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dedup (``multimodal.dhash_images`` +
    ``neardup_image_pairs``) — the pass that joins the multimodal decode
    machinery to the banded-dedup machinery: every doc-keyed synthetic
    P3 image is REALLY decoded (pixel access, not metadata echo), dHashed
    (8×9 luma grid, Rec.601 integer luma, adjacent-pixel bits), and
    near-dup pairs are found by the band-bucket join — never all-pairs.
    The 8-byte band layout makes the bucketing EXACT for Hamming ≤ 7
    (pigeonhole), so the oracle can replay the full construction →
    decode → hash → threshold pipeline and demand identical pairs.

    Corpus shape: group ``doc_id % 64`` fixes dims and the base pattern
    (in-group images are brightness-shifted by ``doc_id % 3`` —
    invisible to dHash by design — plus sparse +12 bumps at ~1% of
    samples that flip a few bits), so groups yield near-dup pairs at
    assorted Hamming distances and cross-group pairs verify out."""
    hashed = _doc_image_hashes(spark, sf_dir)
    return multimodal.neardup_image_pairs(hashed, max_hamming=6, n_bands=8)


def _doc_image_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-keyed synthetic image corpus, REALLY decoded and dHashed
    (see :func:`_image_neardup_pairs` for the construction rationale) —
    the shared front end of every image-dedup gate."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    g = d % 64
    w = (g % 5 + 6).cast("int")
    h = (g % 3 + 6).cast("int")
    samples = F.transform(
        F.sequence(F.lit(0), (w * h * 3 - 1).cast("long")),
        lambda i: (g * 37 + i * 11) % 240
        + F.when((d * 31 + i * 17) % 97 == 0, F.lit(12)).otherwise(F.lit(0))
        + d % 3,
    )
    ppm = F.concat(
        F.lit("P3\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
        F.array_join(samples, " "),
    )
    media = multimodal.as_media_table(
        docs.select(d.alias("doc_id"), ppm.alias("img")),
        id_col="doc_id",
        payload_col="img",
    )
    return multimodal.dhash_images(media)


def multimodal_neardup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated pair-list view of :func:`_image_neardup_pairs` (see its
    docstring for the full design)."""
    return _image_neardup_pairs(spark, sf_dir).orderBy("a_id", "b_id")


def multimodal_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup RESOLUTION: the dHash near-dup pairs collapsed to
    transitive clusters (iterative min-label propagation — the same
    ``dedup.connected_components`` the text family uses; pairs form
    chains A~B~C where A~C may exceed the Hamming threshold, so
    keep-one-per-cluster needs the closure, not the pair list) with the
    lowest media_id as cluster representative. The oracle replays
    construction → decode → dHash → banded threshold → a DuckDB
    recursive-CTE closure — the full image-dedup pipeline end-to-end,
    mirroring ``dedup_clusters`` on the text side."""
    pairs = _image_neardup_pairs(spark, sf_dir)
    return (
        dedup.connected_components(pairs, a_col="a_id", b_col="b_id")
        .select(
            F.col("node").alias("media_id"),
            "component",
            (F.col("node") == F.col("component")).alias(
                "is_representative"
            ),
        )
        .orderBy("media_id")
    )


_IMG_DHASH_CTE = """
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 64 AS BIGINT) AS g,
         CAST((doc_id % 64) % 5 + 6 AS BIGINT) AS w,
         CAST((doc_id % 64) % 3 + 6 AS BIGINT) AS h
  FROM documents
), sampled AS (
  SELECT doc_id, w, h,
    list_transform(range(0, w * h * 3), i ->
      (g * 37 + i * 11) % 240
      + CASE WHEN (doc_id * 31 + i * 17) % 97 = 0 THEN 12 ELSE 0 END
      + doc_id % 3) AS vals
  FROM base
), luma AS (
  -- 8x9 luma grid, row-major: gy = gi // 9, gx = gi % 9;
  -- nearest-neighbor source pixel (gy*h//8, gx*w//9); 1-based list idx
  SELECT doc_id,
    list_transform(range(0, 72), gi ->
      (299 * vals[((((gi // 9) * h // 8) * w + ((gi % 9) * w // 9)) * 3) + 1]
     + 587 * vals[((((gi // 9) * h // 8) * w + ((gi % 9) * w // 9)) * 3) + 2]
     + 114 * vals[((((gi // 9) * h // 8) * w + ((gi % 9) * w // 9)) * 3) + 3]
      ) // 1000) AS lg
  FROM sampled
), hashed AS (
  -- one band byte per grid row: bit gx set iff right neighbor brighter
  SELECT doc_id,
    list_transform(range(0, 8), gy ->
      list_sum(list_transform(range(0, 8), gx ->
        CASE WHEN lg[gy * 9 + gx + 2] > lg[gy * 9 + gx + 1]
             THEN 1 << gx ELSE 0 END))) AS bands
  FROM luma
)
"""

_IMG_PAIRS_SELECT = """
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(list_sum(list_transform(range(1, 9), j ->
            bit_count(xor(CAST(a.bands[j] AS INTEGER),
                          CAST(b.bands[j] AS INTEGER))))) AS INT)
         AS hamming
FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
WHERE CAST(list_sum(list_transform(range(1, 9), j ->
        bit_count(xor(CAST(a.bands[j] AS INTEGER),
                      CAST(b.bands[j] AS INTEGER))))) AS INT) <= 6
"""

MULTIMODAL_NEARDUP_SQL = (
    _IMG_DHASH_CTE.rstrip() + _IMG_PAIRS_SELECT + "ORDER BY a_id, b_id\n"
)

def multimodal_neardup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware image-dedup resolution: every image (singletons
    included — component coalesced to own id) keeps its cluster's
    HIGHEST-RESOLUTION member (true decoded width×height from the dHash
    pass; media_id tie-break) instead of the naive lowest-id
    representative — the standard refinement that stops image dedup
    from discarding the sharper copy. The image twin of
    ``dedup_keep_best_quality``; per-component window ranks (bounded
    groups, no global sort)."""
    hashed = _doc_image_hashes(spark, sf_dir)
    pairs = multimodal.neardup_image_pairs(hashed, max_hamming=6, n_bands=8)
    comp = dedup.connected_components(
        pairs, a_col="a_id", b_col="b_id"
    ).select(F.col("node").alias("media_id"), "component")
    full = (
        hashed.select(
            "media_id",
            (F.col("width") * F.col("height")).alias("resolution"),
        )
        .join(comp, "media_id", "left")
        .withColumn(
            "component", F.coalesce("component", F.col("media_id"))
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("resolution"), F.asc("media_id")
    )
    return (
        full.withColumn("rn", F.row_number().over(w))
        .select(
            "media_id",
            "component",
            "resolution",
            (F.col("rn") == 1).alias("kept"),
        )
        .orderBy("media_id")
    )


def ingest_image_neardup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental IMAGE ingest
    (``streaming/ingest.py: image_neardup_batch_against_registry``),
    driver-gated at FULL VALUE strength: even doc_ids play the
    already-ingested corpus (their dHash band keys committed to a real
    bucket-pruned upsert store), odd doc_ids play the arriving batch,
    and the decision runs through the pruned registry probe. Unlike the MinHash text twin
    (``ingest_neardup_incremental``, invariant-gated because xxhash64
    minhashing is not DuckDB-expressible), the dHash decision is fully
    SQL-replayable, so the oracle recomputes the EXACT accepted id set:
    an odd image is accepted iff no even image and no smaller odd image
    is within Hamming 6. Scratch store is per-call (mkdtemp + grace
    window) so driver re-invocations never merge into stale state."""
    hashed = _doc_image_hashes(spark, sf_dir)
    evens = hashed.filter(F.col("media_id") % 2 == 0)
    odds = hashed.filter(F.col("media_id") % 2 == 1)
    reg = _ivfpq_scratch_dir(sf_dir, tag="img_ingest") + "/registry"
    ingest.register_batch_image_neardup(evens, reg, batch_id=0)
    accepted = ingest.image_neardup_batch_against_registry(
        odds, reg, max_hamming=6
    )
    return accepted.select("media_id").orderBy("media_id")


# recursive min-label closure over the pair graph — same lab(node, comp)
# pattern as DEDUP_CLUSTERS_SQL (DuckDB recursion is <base> UNION <rec>)
MULTIMODAL_CLUSTERS_SQL = (
    _IMG_DHASH_CTE.rstrip().replace("WITH base", "WITH RECURSIVE base", 1)
    + ", pairs AS ("
    + _IMG_PAIRS_SELECT
    + """),
sym_edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
lab(node, comp) AS (
  SELECT src, LEAST(src, dst) FROM sym_edges
  UNION
  SELECT e.dst, l.comp
  FROM lab l JOIN sym_edges e ON l.node = e.src
  WHERE l.comp < e.dst
)
SELECT node AS media_id,
       CAST(MIN(comp) AS BIGINT) AS component,
       (node = MIN(comp)) AS is_representative
FROM lab
GROUP BY node
ORDER BY media_id
"""
)

# same closure, resolved to the highest-resolution keeper per component
# (singletons coalesce to their own id) — the image twin of
# DEDUP_KEEP_BEST_SQL
_IMG_CLOSURE_CTES = (
    _IMG_DHASH_CTE.rstrip().replace("WITH base", "WITH RECURSIVE base", 1)
    + ", pairs AS ("
    + _IMG_PAIRS_SELECT
    + """),
sym_edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
lab(node, comp) AS (
  SELECT src, LEAST(src, dst) FROM sym_edges
  UNION
  SELECT e.dst, l.comp
  FROM lab l JOIN sym_edges e ON l.node = e.src
  WHERE l.comp < e.dst
)"""
)

MULTIMODAL_KEEP_SQL = (
    _IMG_CLOSURE_CTES
    + """,
comps AS (
  SELECT node, CAST(MIN(comp) AS BIGINT) AS component
  FROM lab GROUP BY node
),
resolved AS (
  SELECT h.doc_id AS media_id,
         CAST(b.w * b.h AS INT) AS resolution,
         COALESCE(c.component, h.doc_id) AS component
  FROM hashed h
  JOIN base b ON h.doc_id = b.doc_id
  LEFT JOIN comps c ON h.doc_id = c.node
)
SELECT media_id,
       CAST(component AS BIGINT) AS component,
       resolution,
       (ROW_NUMBER() OVER (PARTITION BY component
                           ORDER BY resolution DESC, media_id) = 1)
         AS kept
FROM resolved
ORDER BY media_id
"""
)

# full-value replay of the incremental image-ingest decision: an odd
# image is accepted iff no even image and no smaller odd image is
# within Hamming 6 (the exact semantics of image_neardup_decide: the
# within-batch pass runs over the FULL batch, so a cross-rejected
# smaller odd still drops its larger near-copy). The Hamming sum is
# expanded to 8 explicit terms because DuckDB lambdas cannot capture
# columns of the other join side.
def _img_ham_expanded(a: str, b: str) -> str:
    return "\n       + ".join(
        f"bit_count(xor(CAST({a}.bands[{j}] AS INTEGER), "
        f"CAST({b}.bands[{j}] AS INTEGER)))"
        for j in range(1, 9)
    )


INGEST_IMAGE_NEARDUP_SQL = (
    _IMG_DHASH_CTE.rstrip()
    + f""", rej AS (
  SELECT DISTINCT o.doc_id
  FROM hashed o JOIN hashed e
    ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
   AND ({_img_ham_expanded("o", "e")}) <= 6
  UNION
  SELECT DISTINCT o.doc_id
  FROM hashed o JOIN hashed a
    ON o.doc_id % 2 = 1 AND a.doc_id % 2 = 1 AND a.doc_id < o.doc_id
   AND ({_img_ham_expanded("a", "o")}) <= 6
)
SELECT doc_id AS media_id
FROM hashed
WHERE doc_id % 2 = 1
  AND doc_id NOT IN (SELECT doc_id FROM rej)
ORDER BY media_id
"""
)


def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant embedding direction by matrix-free power iteration
    (``similarity.power_iteration_pc1``, 3 supersteps in fixed-point
    integer units): surfaces the documents most aligned with the
    corpus's principal (non-centered) axis — the cheap first look at
    "what direction dominates this corpus" before SemDeDup-style
    semantic pruning. Fourth member of the iterative family (k-means,
    PageRank, BPE), oracle-replayed superstep by superstep."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.power_iteration_pc1(emb, iters=3, top_k=10)


def _power_iter_oracle_sql(
    iters: int = 3,
    dim: int = 64,
    scale: int = 1_000,
    offset_units: int = 1_000,
    top_k: int = 10,
) -> str:
    """Chained-CTE DuckDB replay of fixed-point power iteration: per
    superstep a projection CTE (bigint fold in index order), a
    matrix-free Gram product over (position) — DuckDB's SUM(BIGINT)
    widens to HUGEINT, mirroring Spark's decimal(38,0) accumulator —
    and an integer renormalization ``(w·2^20)//max(w)`` (all terms
    non-negative, floor == truncate). Same superstep-replay technique
    as ``EMB_KMEANS_SQL``."""
    parts = [
        f"""v AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT)
           + {offset_units}) AS u
  FROM embeddings
), vv0 AS (
  SELECT u AS vvec FROM v ORDER BY vec_id LIMIT 1
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS (
  SELECT v.vec_id, v.u,
         list_reduce(list_transform(range(1, {dim + 1}),
             j -> v.u[j] * p.vvec[j]), (a, b) -> a + b) AS s
  FROM v CROSS JOIN vv{i - 1} p
)"""
        )
        if i < iters:
            parts.append(
                f"""w{i} AS (
  SELECT j, SUM(s * u[j]) AS w
  FROM s{i} CROSS JOIN range(1, {dim + 1}) r(j)
  GROUP BY j
), m{i} AS (
  SELECT MAX(w) AS m FROM w{i}
), vv{i} AS (
  SELECT list(CAST((w * 1048576) // m AS BIGINT) ORDER BY j) AS vvec
  FROM w{i} CROSS JOIN m{i}
)"""
            )
    tail = (
        f"SELECT CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS INT)"
        f" AS rank,\n       vec_id, CAST(s AS BIGINT) AS proj_units\n"
        f"FROM s{iters} ORDER BY s DESC, vec_id LIMIT {top_k}"
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


EMB_POWER_ITER_SQL = _power_iter_oracle_sql()


def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration sweep: precision/recall/accuracy of the
    distilled NB quality classifier (``text.nb_quality_distill``, the
    ``text_quality_distill`` model) against its Gopher teacher labels
    at 17 score thresholds (−2.0 … 2.0, step 0.25) — the curve read
    before picking a corpus-filter operating point. One broadcast
    threshold spine × one pass over the scored docs, one bounded agg;
    ratios via the engine-exact integer HALF_UP helper."""
    docs = load_table(spark, sf_dir, "documents")
    teacher = text.repetition_features(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    scored = text.nb_quality_distill(docs, teacher, buckets=4096).select(
        "doc_id", "label", "clf_score"
    )
    th = spark.range(-8, 9).select(
        (F.col("id").cast("double") / 4.0).alias("thr")
    )
    j = scored.crossJoin(F.broadcast(th))
    pred = F.col("clf_score") >= F.col("thr")
    g = j.groupBy("thr").agg(
        F.count(F.when(pred & F.col("label"), 1)).alias("n_tp"),
        F.count(F.when(pred & ~F.col("label"), 1)).alias("n_fp"),
        F.count(F.when(~pred & F.col("label"), 1)).alias("n_fn"),
        F.count(F.when(~pred & ~F.col("label"), 1)).alias("n_tn"),
    )
    return g.select(
        "thr",
        "n_tp",
        "n_fp",
        "n_fn",
        "n_tn",
        F.when(
            F.col("n_tp") + F.col("n_fp") > 0,
            F.expr(half_up6_spark("n_tp", "n_tp + n_fp")),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(
            F.col("n_tp") + F.col("n_fn") > 0,
            F.expr(half_up6_spark("n_tp", "n_tp + n_fn")),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    ).orderBy("thr")


QUALITY_PR_SQL = _DISTILL_BODY + f"""
, th AS (
  SELECT CAST(x AS DOUBLE) / 4.0 AS thr FROM unnest(range(-8, 9)) t(x)
), g AS (
  SELECT thr,
         CAST(COUNT(*) FILTER (WHERE clf_score >= thr AND label)
              AS BIGINT) AS n_tp,
         CAST(COUNT(*) FILTER (WHERE clf_score >= thr AND NOT label)
              AS BIGINT) AS n_fp,
         CAST(COUNT(*) FILTER (WHERE clf_score < thr AND label)
              AS BIGINT) AS n_fn,
         CAST(COUNT(*) FILTER (WHERE clf_score < thr AND NOT label)
              AS BIGINT) AS n_tn
  FROM scored CROSS JOIN th
  GROUP BY thr
)
SELECT thr, n_tp, n_fp, n_fn, n_tn,
       CASE WHEN n_tp + n_fp > 0
            THEN {half_up6_duck("n_tp", "n_tp + n_fp")}
            ELSE 0.0 END AS precision,
       CASE WHEN n_tp + n_fn > 0
            THEN {half_up6_duck("n_tp", "n_tp + n_fn")}
            ELSE 0.0 END AS recall
FROM g ORDER BY thr
"""


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID error analysis: the (labeled lang × predicted lang)
    confusion matrix of the marker-word classifier (``text.lang_id``),
    with each cell's share of its labeled-language row — which
    languages the heuristic confuses, the evaluation read before
    trusting per-language corpus mixtures. Bounded |langs|² output; one
    doc-level pass + one tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.lang_id(docs).select("lang", "pred_lang")
    row_tot = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return (
        out.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(row_tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr(half_up6_spark("n_docs", "n_lang")).alias(
                "row_share"
            ),
        )
        .orderBy("lang", "pred_lang")
    )


LANG_CONFUSION_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
    {_SCORES["en"]} AS score_en,
    {_SCORES["es"]} AS score_es,
    {_SCORES["de"]} AS score_de,
    {_SCORES["fr"]} AS score_fr,
    {_SCORES["zh"]} AS score_zh
  FROM documents
), pred AS (
  SELECT lang,
    CASE
      WHEN score_en >= GREATEST(score_es, score_de, score_fr, score_zh)
        THEN 'en'
      WHEN score_es >= GREATEST(score_de, score_fr, score_zh) THEN 'es'
      WHEN score_de >= GREATEST(score_fr, score_zh) THEN 'de'
      WHEN score_fr >= score_zh THEN 'fr'
      ELSE 'zh'
    END AS pred_lang
  FROM scored
), cells AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
  FROM cells GROUP BY 1
)
SELECT c.lang, c.pred_lang, c.n_docs,
       {half_up6_duck("c.n_docs", "t.n_lang")} AS row_share
FROM cells c JOIN tot t USING (lang)
ORDER BY c.lang, c.pred_lang
"""


def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition (``text.repetition_signals``): the
    Gopher-style boilerplate detector — per doc, the fraction of
    trigram occurrences belonging to trigrams repeated inside that same
    doc, plus the most frequent bigram's occurrence share. Complements
    the across-document dedup family (those can't see a doc that
    repeats itself). Two keyed shuffles, linear in token count."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_signals(docs)


TEXT_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS w
  FROM documents
), tagged AS (
  SELECT doc_id, 'b' AS kind, w[i] || ' ' || w[i + 1] AS g
  FROM base, unnest(range(1, len(w))) t(i)
  UNION ALL
  SELECT doc_id, 't', w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
  FROM base, unnest(range(1, len(w) - 1)) t(i)
), per_gram AS (
  SELECT doc_id, kind, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM tagged GROUP BY 1, 2, 3
), per_kind AS (
  SELECT doc_id, kind, SUM(c) AS total,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS rep,
         MAX(c) AS mx
  FROM per_gram GROUP BY 1, 2
), folded AS (
  SELECT doc_id,
         MAX(CASE WHEN kind = 't' THEN total END) AS tri_total,
         MAX(CASE WHEN kind = 't' THEN rep END) AS tri_rep,
         MAX(CASE WHEN kind = 'b' THEN total END) AS bi_total,
         MAX(CASE WHEN kind = 'b' THEN mx END) AS bi_mx
  FROM per_kind GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(tri_total, 0) AS BIGINT) AS n_trigrams,
       CAST(COALESCE(tri_rep, 0) AS BIGINT) AS n_repeated_trigrams,
       CASE WHEN COALESCE(tri_total, 0) > 0
            THEN {half_up6_duck("COALESCE(tri_rep, 0)", "tri_total")}
            ELSE 0.0 END AS tri_rep_fraction,
       CASE WHEN COALESCE(bi_total, 0) > 0
            THEN {half_up6_duck("COALESCE(bi_mx, 0)", "bi_total")}
            ELSE 0.0 END AS top_bigram_share
FROM documents d LEFT JOIN folded USING (doc_id)
ORDER BY d.doc_id
"""


def emb_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column PROFILE: per-dimension count / mean / std /
    min / max over the whole corpus — the read before feature
    standardization, whitening, or quantizer calibration (which
    dimensions are dead, skewed, or dominate the scale). One
    posexplode + one 64-key hash agg. Means are exact decimal sums
    rounded by the signed integer helper at 12dp; std uses the exact
    decimal moments collapsed to doubles once (sqrt is IEEE
    correctly-rounded, so both engines agree bit-for-bit — the
    ``stats_corr_regression`` precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("pos", "vf")
    ).select("pos", F.col("vf").cast("double").alias("v"))
    g = flat.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("v"), 12).cast("decimal(26,12)")).alias(
            "s12"
        ),
        F.sum(
            F.round(F.col("v") * F.col("v"), 12).cast("decimal(26,12)")
        ).alias("ss12"),
        F.min("v").alias("dim_min"),
        F.max("v").alias("dim_max"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s12").cast("double")
    ssd = F.col("ss12").cast("double")
    var = (nd * ssd - sd * sd) / (nd * nd)
    return g.select(
        "pos",
        "n",
        F.expr(
            half_up_signed_spark(
                "CAST(s12*1000000000000 AS DECIMAL(38,0))",
                "n",
                12,
                10**12,
            )
        ).alias("dim_mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias(
            "dim_std"
        ),
        "dim_min",
        "dim_max",
    ).orderBy("pos")


EMB_DIM_PROFILE_SQL = f"""
WITH flat AS (
  SELECT i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, 65)) t(i)
), g AS (
  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(v, 12) AS DECIMAL(26,12))) AS s12,
         SUM(CAST(ROUND(v * v, 12) AS DECIMAL(26,12))) AS ss12,
         MIN(v) AS dim_min,
         MAX(v) AS dim_max
  FROM flat GROUP BY pos
)
SELECT CAST(pos AS INT) AS pos, n,
       {half_up_signed_duck(
           "CAST(s12*1000000000000 AS HUGEINT)", "n", 12, 10**12)}
         AS dim_mean,
       ROUND(sqrt(GREATEST(
           (CAST(n AS DOUBLE) * CAST(ss12 AS DOUBLE)
            - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0)), 6)
         AS dim_std,
       dim_min, dim_max
FROM g ORDER BY pos
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_fingerprint_docs": dedup_fingerprint_docs,
    "dedup_ngram_jaccard_docs": dedup_ngram_jaccard_docs,
    "dedup_containment_docs": dedup_containment_docs,
    "dedup_containment_lsh_docs": dedup_containment_lsh_docs,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best_quality": dedup_keep_best_quality,
    "dedup_minhash_lsh_docs": dedup_minhash_lsh_docs,
    "ingest_neardup_incremental": ingest_neardup_incremental,
    "dedup_simhash_docs": dedup_simhash_docs,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic_clusters": dedup_semantic_clusters,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_persisted": ann_ivfpq_persisted,
    "ann_opq_topk": ann_opq_topk,
    "ann_ivfpq_append": ann_ivfpq_append,
    "ann_ivfpq_compacted": ann_ivfpq_compacted,
    "ann_ivfpq_stream_ingested": ann_ivfpq_stream_ingested,
    "ann_index_build_reproducible": ann_index_build_reproducible,
    "ann_ivfpq_pointer_swap": ann_ivfpq_pointer_swap,
    "ann_compact_drift_trigger": ann_compact_drift_trigger,
    "ann_index_version_retention": ann_index_version_retention,
    "ann_retention_horizon_persisted": ann_retention_horizon_persisted,
    "ann_opq_persisted": ann_opq_persisted,
    "knn_label_audit": knn_label_audit,
    "knn_label_audit_ivf": knn_label_audit_ivf,
    "emb_quantize_int8": emb_quantize_int8,
    "text_quality_docs": text_quality_docs,
    "text_quality_gopher": text_quality_gopher,
    "pii_scrub_docs": pii_scrub_docs,
    "text_token_counts": text_token_counts,
    "text_vocab_topk": text_vocab_topk,
    "lang_id_docs": lang_id_docs,
    "text_fingerprint_rolling": text_fingerprint_rolling,
    "text_bm25_rank": text_bm25_rank,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_remove_spans": dedup_remove_spans,
    "text_lm_logprob": text_lm_logprob,
    "text_quality_distill": text_quality_distill,
    "text_kl_source_drift": text_kl_source_drift,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_apply": text_bpe_apply,
    "multimodal_resize_rasters": multimodal_resize_rasters,
    "emb_source_similarity": emb_source_similarity,
    "emb_kmeans_lloyd": emb_kmeans_lloyd,
    "emb_power_iteration": emb_power_iteration,
    "emb_dimension_profile": emb_dimension_profile,
    "text_repetition_signals": text_repetition_signals,
    "quality_pr_curve": quality_pr_curve,
    "lang_confusion_matrix": lang_confusion_matrix,
    "sample_cluster_balanced": sample_cluster_balanced,
    "curation_dsir_weights": curation_dsir_weights,
    "report_source_profile": report_source_profile,
    "text_source_entropy": text_source_entropy,
    "report_cross_source_dups": report_cross_source_dups,
    "hist_doc_tokens": hist_doc_tokens,
    "multimodal_frame_sample": multimodal_frame_sample,
    "text_tfidf_topterms": text_tfidf_topterms,
    "text_pmi_collocations": text_pmi_collocations,
    "text_token_encode": text_token_encode,
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
    "text_chunking": text_chunking,
    "curation_pipeline": curation_pipeline,
    "multimodal_metadata": multimodal_metadata,
    "multimodal_features": multimodal_features,
    "multimodal_decode_rasters": multimodal_decode_rasters,
    "multimodal_neardup_images": multimodal_neardup_images,
    "multimodal_neardup_clusters": multimodal_neardup_clusters,
    "ingest_image_neardup_incremental": ingest_image_neardup_incremental,
    "multimodal_neardup_keep": multimodal_neardup_keep,
}

ORACLE_SQL: dict[str, str] = {
    "dedup_exact_docs": DEDUP_EXACT_SQL,
    "dedup_fingerprint_docs": DEDUP_FINGERPRINT_SQL,
    "dedup_ngram_jaccard_docs": DEDUP_JACCARD_SQL,
    "dedup_containment_docs": DEDUP_CONTAINMENT_SQL,
    "dedup_containment_lsh_docs": DEDUP_CONTAINMENT_LSH_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_keep_best_quality": DEDUP_KEEP_BEST_SQL,
    "dedup_minhash_lsh_docs": DEDUP_MINHASH_SQL,
    "ingest_neardup_incremental": INGEST_NEARDUP_SQL,
    "dedup_simhash_docs": DEDUP_SIMHASH_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_SQL,
    "dedup_semantic_clusters": DEDUP_SEMANTIC_SQL,
    "ann_cosine_topk": ANN_TOPK_SQL,
    "ann_lsh_topk": _ANN_INVARIANT_SQL,
    "ann_ivf_topk": _ANN_INVARIANT_SQL,
    "ann_ivfpq_topk": _ANN_INVARIANT_SQL,
    "ann_ivfpq_persisted": _ANN_PERSISTED_SQL,
    "ann_opq_topk": _ANN_INVARIANT_SQL,
    "ann_ivfpq_append": _ANN_APPEND_SQL,
    "ann_ivfpq_compacted": _ANN_COMPACTED_SQL,
    "ann_ivfpq_stream_ingested": _ANN_STREAM_INGESTED_SQL,
    "ann_index_build_reproducible": _ANN_BUILD_REPRO_SQL,
    "ann_ivfpq_pointer_swap": _ANN_POINTER_SWAP_SQL,
    "ann_compact_drift_trigger": _ANN_DRIFT_TRIGGER_SQL,
    "ann_index_version_retention": _ANN_VERSION_RETENTION_SQL,
    "ann_retention_horizon_persisted": _ANN_HORIZON_PERSISTED_SQL,
    "ann_opq_persisted": _ANN_OPQ_PERSISTED_SQL,
    "knn_label_audit": KNN_LABEL_AUDIT_SQL,
    "knn_label_audit_ivf": KNN_LABEL_AUDIT_IVF_SQL,
    "emb_quantize_int8": EMB_QUANTIZE_SQL,
    "text_quality_docs": TEXT_QUALITY_SQL,
    "text_quality_gopher": TEXT_GOPHER_SQL,
    "pii_scrub_docs": PII_SCRUB_SQL,
    "text_token_counts": TEXT_TOKENS_SQL,
    "text_vocab_topk": TEXT_VOCAB_SQL,
    "lang_id_docs": LANG_ID_SQL,
    "text_fingerprint_rolling": TEXT_FINGERPRINT_SQL,
    "text_bm25_rank": TEXT_BM25_SQL,
    "dedup_substring_spans": DEDUP_SUBSTRING_SQL,
    "dedup_remove_spans": DEDUP_REMOVE_SPANS_SQL,
    "text_lm_logprob": TEXT_LM_SQL,
    "text_quality_distill": TEXT_DISTILL_SQL,
    "text_kl_source_drift": TEXT_KL_DRIFT_SQL,
    "text_bpe_merges": TEXT_BPE_MERGES_SQL,
    "text_bpe_apply": TEXT_BPE_APPLY_SQL,
    "multimodal_resize_rasters": MULTIMODAL_RESIZE_SQL,
    "emb_source_similarity": EMB_SOURCE_SIM_SQL,
    "emb_kmeans_lloyd": EMB_KMEANS_SQL,
    "emb_power_iteration": EMB_POWER_ITER_SQL,
    "emb_dimension_profile": EMB_DIM_PROFILE_SQL,
    "text_repetition_signals": TEXT_REPETITION_SQL,
    "quality_pr_curve": QUALITY_PR_SQL,
    "lang_confusion_matrix": LANG_CONFUSION_SQL,
    "sample_cluster_balanced": CLUSTER_SAMPLE_SQL,
    "curation_dsir_weights": DSIR_SQL,
    "report_source_profile": SOURCE_PROFILE_SQL,
    "text_source_entropy": TEXT_ENTROPY_SQL,
    "report_cross_source_dups": CROSS_SOURCE_DUPS_SQL,
    "hist_doc_tokens": HIST_DOC_TOKENS_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAMES_SQL,
    "text_tfidf_topterms": TEXT_TFIDF_SQL,
    "text_pmi_collocations": TEXT_PMI_SQL,
    "text_token_encode": TEXT_ENCODE_SQL,
    "sketch_cms_heavy_hitters": SKETCH_CMS_SQL,
    "text_chunking": TEXT_CHUNKING_SQL,
    "curation_pipeline": CURATION_SQL,
    "multimodal_metadata": MULTIMODAL_META_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
    "multimodal_decode_rasters": MULTIMODAL_DECODE_SQL,
    "multimodal_neardup_images": MULTIMODAL_NEARDUP_SQL,
    "multimodal_neardup_clusters": MULTIMODAL_CLUSTERS_SQL,
    "ingest_image_neardup_incremental": INGEST_IMAGE_NEARDUP_SQL,
    "multimodal_neardup_keep": MULTIMODAL_KEEP_SQL,
}
