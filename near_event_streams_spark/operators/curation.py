"""Training-data curation operators: benchmark decontamination,
deterministic hash sampling / dataset mixture, and sequence packing.

These are the corpus-assembly steps that sit between cleaning/dedup and
tokenization in an LLM data pipeline:

* **decontamination** — remove training documents that share word
  n-grams with an evaluation/benchmark set (the standard 8/13-gram
  overlap rule). Candidate generation is an equi-join on the n-gram
  string; the eval side is tiny by construction (benchmarks are
  thousands of docs, not billions) so it broadcasts.
* **deterministic sampling** — md5-bucket subsampling that is stable
  across runs, engines and cluster layouts (no RNG, no partition
  dependence), and its stratified form for weighted dataset mixtures.
* **sequence packing** — assigning documents to fixed-token-budget bins
  (context windows): a split-on-overflow form expressible with window
  functions, and the greedy next-fit form (never splits a document) as
  an ``applyInPandas`` sequential scan per shard.

Everything except next-fit packing is pure column expressions —
JVM-side, whole-stage-codegen, no UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from near_event_streams_spark.functions.rounding import half_up6_spark
from pyspark.sql.window import Window

# --------------------------------------------------------------------------
# n-gram decontamination
# --------------------------------------------------------------------------


def ngrams_col(text: Column, n: int) -> Column:
    """Distinct lowercase word ``n``-grams of ``text`` as an array column.

    Guarded so documents shorter than ``n`` words produce an empty array
    (Spark's ``sequence(1, 0)`` would otherwise DESCEND and fabricate
    indexes).
    """
    w = F.split(F.trim(F.lower(text)), r"\s+")
    # n-1 pairwise zips of shifted slices, NOT transform+slice(w, i, n):
    # a lambda that captures the unmaterialized split re-runs the regex
    # per n-gram — O(len²) regex work per doc (the word_bigrams trap,
    # operators/dedup.py). Here `w` appears only as a direct argument
    # (n slices, each evaluated once and CSE-merged), so the cost is
    # O(n·len). Sub-n-word docs fall out as empty slices — same
    # behavior as the old sequence guard.
    m = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    g = F.slice(w, 1, m)
    for j in range(1, n):
        g = F.zip_with(
            g,
            F.slice(w, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(g)


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
    broadcast_flags: bool | None = None,
    max_broadcast_ids: int = 5_000_000,
) -> DataFrame:
    """Flag training docs sharing any word ``n``-gram with the eval set.

    Returns ``train`` plus an ``is_contaminated`` boolean. The plan is a
    single equi-(semi)join on the n-gram string: eval n-grams are
    distinct-ed and broadcast (benchmark sets are small — the asymmetry
    is structural, not a tuning assumption), train n-grams stream
    through the hash probe, contaminated ids come back as one distinct
    set. At 100 TB the train side never shuffles on the gram key when
    the broadcast applies; set ``broadcast_eval=False`` for a
    pathological eval set and the same plan degrades to a shuffle join.

    The flag-back join is size-adaptive (same contract as
    ``dedup._verify_pairs``): the contaminated-id set is usually tiny,
    but a dirty corpus at 100 TB can flag an unbounded fraction of
    documents — broadcasting it unconditionally would OOM the driver.
    ``broadcast_flags=None`` counts the set (persisted, so the semi-join
    runs once) and broadcasts only under ``max_broadcast_ids``; above
    that the left join shuffles ``train`` on ``id_col``, bounded
    per-partition, never to the driver.
    """
    ev = (
        eval_docs.select(
            F.explode(ngrams_col(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr_grams = train.select(
        F.col(id_col), F.explode(ngrams_col(F.col(text_col), n)).alias("gram")
    )
    bad = (
        tr_grams.join(ev, "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    if broadcast_flags is None:
        bad = bad.persist()
        broadcast_flags = bad.count() <= max_broadcast_ids
    if broadcast_flags:
        bad = F.broadcast(bad)
    out = train.join(bad, id_col, "left")
    return out.withColumn(
        "is_contaminated", F.coalesce(F.col("is_contaminated"), F.lit(False))
    )


def contamination_overlap(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GRADED decontamination report: per train doc, how many of its
    distinct word n-grams appear in the eval set and the overlap
    fraction — the thresholdable signal behind the boolean
    :func:`decontaminate` flag (pipelines drop at high overlap,
    down-weight or review the middle band).

    Returns ``(doc_id, n_grams, n_shared, overlap_pct)``; docs shorter
    than ``n`` words report 0/0/0.0. Same plan skeleton as the boolean
    operator: eval grams distinct + broadcast, one train-side gram
    explode, one doc-keyed count agg — the share computation adds no
    extra pass over the corpus.
    """
    ev = eval_docs.select(
        F.explode(ngrams_col(F.col(text_col), n)).alias("gram")
    ).distinct()
    tr_grams = train.select(
        F.col(id_col),
        F.explode(ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    per_doc = (
        tr_grams.join(
            F.broadcast(ev.withColumn("_hit", F.lit(1))), "gram", "left"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.col("_hit")).alias("n_shared"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        train.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", zero).alias("n_grams"),
            F.coalesce("n_shared", zero).alias("n_shared"),
            F.when(
                F.coalesce("n_grams", zero) > 0,
                # exact integer HALF_UP (functions/rounding.half_up6_*)
                F.expr(half_up6_spark("coalesce(n_shared, 0L)", "n_grams")),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap_pct"),
        )
    )


def bloom_bitmap_words(
    keys: DataFrame,
    m_bits: int,
    k: int,
    col: str = "gram",
) -> list[int]:
    """Packed Bloom-filter words of ``keys[col]`` (``k`` xxhash64
    seeds over ``m_bits`` positions, bit-packed 64 per word) as a
    plain Python list, for embedding as a PLAN LITERAL via
    :func:`bloom_probe`'s binary-literal transport.

    The packing happens DISTRIBUTEDLY: each key expands to its k bit
    positions, positions fold into (word, bits) via a bounded-key
    ``bit_or`` aggregate, and only ≤ ``m_bits/64`` packed words come
    back to the driver — a fixed few-hundred-KB collect no matter the
    key volume (same bounded-collect contract as the sketch
    operators). Embedding the words as one constant-folded binary
    literal keeps every probe a codegen byte-slice; a crossJoin'd
    bitmap COLUMN would be re-materialized onto EVERY probed row
    (a 256 KiB copy per gram — measured 10× slower at sf0.1)."""
    n_words = (m_bits + 63) // 64
    packed = (
        keys.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col(col), F.lit(i)),
                            F.lit(m_bits),
                        )
                        for i in range(k)
                    ]
                )
            ).alias("pos")
        )
        .select(
            F.shiftrightunsigned("pos", 6).alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod("pos", F.lit(64)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in packed:
        words[r["w"]] = r["bits"]
    return words


def bloom_probe(
    gram: Column, words: list[int], m_bits: int, k: int
) -> Column:
    """All-``k``-bits-set membership test against the bitmap embedded
    as a BINARY literal (pure scalar expressions — never a per-row
    bitmap column; no false negatives by Bloom construction, so an
    EXACT verify of the surviving candidates reproduces the exact-join
    answer).

    Literal transport matters enormously (all measured at 256 KiB):
    ``F.lit(python_list)`` ships one py4j literal PER ELEMENT;
    ``F.lit(np.ndarray)`` pays ~5 s of py4j conversion per plan build;
    a SQL-text ``array(...)`` parses fast but its 32k-child
    CreateArray costs ~4 s of analysis PER REFERENCE. A base64 STRING
    literal is ONE py4j string; ``unbase64`` constant-folds it to a
    single binary Literal whose 6 probe references are O(1) tree
    copies. Each probe reads one byte by position (``substring`` on
    binary is an O(1) slice) and tests one bit.
    """
    import base64

    raw = bytearray(len(words) * 8)
    for wi, word in enumerate(words):
        raw[wi * 8 : (wi + 1) * 8] = (
            word & 0xFFFFFFFFFFFFFFFF
        ).to_bytes(8, "little")
    bitmap = F.unbase64(F.lit(base64.b64encode(bytes(raw)).decode()))
    checks = []
    for i in range(k):
        pos = F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(m_bits))
        byte = F.substring(
            bitmap, (F.shiftrightunsigned(pos, 3) + 1).cast("int"), 1
        )
        val = F.conv(F.hex(byte), 16, 10).cast("int")
        bit = F.call_function(
            "shiftrightunsigned", val, F.pmod(pos, F.lit(8)).cast("int")
        )
        checks.append(bit.bitwiseAND(F.lit(1)) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def decontaminate_bloom(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 6,
    broadcast_flags: bool | None = None,
    max_broadcast_ids: int = 5_000_000,
) -> DataFrame:
    """:func:`decontaminate` with Bloom-prefiltered candidate
    generation — identical EXACT output, cheaper shape at 100 TB.

    The plain operator probes EVERY train n-gram against the broadcast
    eval-gram hash table. Here the eval grams compress to a fixed-size
    Bloom bitmap (``m_bits`` bits, ``k`` xxhash64 probes — at the
    defaults ~1 MB and <2% false positives for ≤10⁵ eval grams, tune
    ``m_bits`` ≈ 10 bits/gram); the train gram stream is filtered by
    :func:`bloom_probe`'s pure byte-slice bit tests against the
    constant-folded BINARY literal inside whole-stage codegen, and
    only the tiny candidate remainder meets the real eval-gram
    equi-join for EXACT verification. Bloom filters have no false
    negatives, so the verified result equals the exact join's — the
    oracle is the same SQL as the exact operator. False positives cost
    only wasted verify-join rows, never wrong output.

    Persist handles (``ev`` always; ``bad`` in the size-adaptive
    ``broadcast_flags=None`` path) are caller-owned — repo convention,
    ``spark.catalog.clearCache()`` when done (matches
    ``key_skew_profile`` / ``kl_source_drift``).
    """
    ev = (
        eval_docs.select(
            F.explode(ngrams_col(F.col(text_col), n)).alias("gram")
        )
        .distinct()
        .persist()  # consumed twice: bitmap build + exact verify join
    )
    words = bloom_bitmap_words(ev, m_bits, k)
    tr_grams = train.select(
        F.col(id_col),
        F.explode(ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    cand = tr_grams.filter(bloom_probe(F.col("gram"), words, m_bits, k))
    bad = (
        cand.join(F.broadcast(ev), "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    if broadcast_flags is None:
        bad = bad.persist()
        broadcast_flags = bad.count() <= max_broadcast_ids
    if broadcast_flags:
        bad = F.broadcast(bad)
    out = train.join(bad, id_col, "left")
    return out.withColumn(
        "is_contaminated",
        F.coalesce(F.col("is_contaminated"), F.lit(False)),
    )


# --------------------------------------------------------------------------
# deterministic hash sampling + dataset mixture
# --------------------------------------------------------------------------


def hash_bucket(key: Column, salt: str = "", buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from md5(key || '|' || salt).

    md5 (not xxhash/murmur) because it is bit-identical across engines —
    the same expression is writable in DuckDB/Trino/Snowflake, so sample
    membership is reproducible outside Spark. Stable across runs,
    partitionings and cluster sizes, unlike ``rand()`` or
    ``df.sample()``.
    """
    hexpart = F.substring(F.md5(F.concat_ws("|", key, F.lit(salt))), 1, 8)
    return F.conv(hexpart, 16, 10).cast("long") % buckets


def hash_sample(
    df: DataFrame, key: Column, rate_pct: int, salt: str = ""
) -> DataFrame:
    """Keep ~rate_pct% of rows, deterministically by key hash."""
    return df.filter(hash_bucket(key, salt) < rate_pct)


def train_val_test_split(
    df: DataFrame,
    key: Column,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by md5 key bucket — the
    split every training pipeline needs pinned BEFORE any shuffling or
    re-partitioning happens, because membership must survive reruns,
    cluster resizes and engine swaps (same cross-engine md5 rationale
    as :func:`hash_bucket`). Adds a ``split`` column; the remainder
    bucket (>= train+val) is ``test``. Pure narrow projection — no
    shuffle, no RNG, no state."""
    b = hash_bucket(key, salt)
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def mixture_sample(
    df: DataFrame,
    stratum_col: str,
    rates_pct: dict[str, int],
    default_pct: int,
    key: Column,
    salt: str = "",
) -> DataFrame:
    """Weighted dataset mixture: per-stratum deterministic sampling rates.

    The standard corpus-mixing step (e.g. keep 100% of books, 30% of
    web). The rate lookup folds into a CASE expression — no join, no
    shuffle; the whole mixture is a narrow filter over the union of
    sources.
    """
    rate: Column = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(
            rate
        )
    return df.filter(hash_bucket(key, salt) < rate)


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------


def token_counts(
    docs: DataFrame, text_col: str = "text"
) -> Column:
    """Whitespace token count (the packing weight)."""
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+"))


def pack_concat_split(
    docs: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-split packing: documents are laid end-to-end in
    ``order_col`` order within each ``group_col`` shard and cut every
    ``budget`` tokens; a doc's bin is where its first token lands.

    Pure window arithmetic (running sum over the shard), so Catalyst
    runs it as one shuffle on the shard key. Sharding bounds the window
    partition — at 100 TB the per-shard window is the unit of
    parallelism, exactly like packing per input file in a tokenizer
    pipeline. Docs may straddle a boundary (the tokenizer splits them);
    use :func:`pack_next_fit` when documents must stay whole.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = token_counts(docs, text_col)
    return docs.select(
        F.col(order_col),
        F.col(group_col),
        t.alias("n_tokens"),
    ).withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(budget)
        ),
    )


def group_stats_arrow(
    docs: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Per-shard corpus accounting (doc count, char volume, language
    spread) computed group-at-a-time in Arrow via ``applyInArrow`` —
    the zero-copy grouped-map API (no pandas materialization, columns
    stay Arrow buffers end-to-end).

    Exists to exercise the grouped Arrow path: a builtin
    ``groupBy().agg`` computes the same numbers with partial
    aggregation and is the right plan when the metric IS expressible —
    this is the escape hatch for per-group logic that isn't, shown on a
    metric an oracle can still check.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def _stats(table: pa.Table) -> pa.Table:
        return pa.table(
            {
                group_col: [table.column(group_col)[0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                "total_chars": pa.array(
                    [pc.sum(table.column("n_chars")).as_py()], pa.int64()
                ),
                "max_chars": pa.array(
                    [pc.max(table.column("n_chars")).as_py()], pa.int64()
                ),
                "n_langs": pa.array(
                    [pc.count_distinct(table.column("lang")).as_py()],
                    pa.int64(),
                ),
            }
        )

    schema = (
        f"{group_col} string, n_docs long, total_chars long, "
        "max_chars long, n_langs long"
    )
    return docs.groupBy(group_col).applyInArrow(_stats, schema)


def pack_next_fit(
    docs: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy next-fit packing: walk the shard in ``order_col`` order,
    start a new bin whenever the current doc would overflow ``budget``.
    Documents are never split; a doc larger than the budget gets a bin
    of its own.

    The recurrence (bin of doc i depends on the running fill after doc
    i-1, which itself resets on overflow) is not window-expressible, so
    this is a per-shard sequential scan via ``applyInPandas`` — one
    shuffle on the shard key, then O(rows) per shard in Arrow-batched
    pandas. Same parallelism contract as :func:`pack_concat_split`.
    """
    base = docs.select(
        F.col(order_col),
        F.col(group_col),
        token_counts(docs, text_col).alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        bins, fill, bin_id = [], 0, 0
        for t in pdf["n_tokens"]:
            if fill > 0 and fill + t > budget:
                bin_id += 1
                fill = int(t)
            else:
                fill += int(t)
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    schema = f"{order_col} long, {group_col} string, n_tokens int, bin_id long"
    return base.groupBy(group_col).applyInPandas(_pack, schema)


def perplexity_buckets(
    scored: DataFrame,
    key_col: str = "lang",
    score_col: str = "avg_logprob",
    lo_frac: float = 1.0 / 3.0,
    hi_frac: float = 2.0 / 3.0,
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet-style per-group perplexity bucketing (Wenzek et al. 2020,
    "CCNet: Extracting high quality monolingual datasets from web crawl
    data"): within each group (language), label every document head /
    middle / tail by its LM score's position against the group's
    quantile thresholds. CCNet keeps head+middle for LM training.

    Scale design: the thresholds come from ``percentile_approx`` — ONE
    distributed aggregation whose GK sketch is mergeable across
    partitions — and broadcast back for the labeling map. Deliberately
    NOT a ``percent_rank`` window partitioned by group: that funnels
    each whole language through a single task (the same
    one-partition-window bottleneck bm25_rank had). With ``accuracy``
    >= the per-group row count the sketch's rank error is < 1 row, i.e.
    exact at test scale; at 100 TB the <=n/accuracy rank error is the
    standard production tradeoff (CCNet itself buckets on sampled
    percentiles).

    Higher score = more fluent: head = score >= hi-threshold,
    tail = score < lo-threshold, middle = the rest.
    """
    th = scored.groupBy(key_col).agg(
        F.percentile_approx(
            score_col, [float(lo_frac), float(hi_frac)], accuracy
        ).alias("_th")
    )
    labeled = scored.join(F.broadcast(th), key_col).withColumn(
        "bucket",
        F.when(
            F.col(score_col) >= F.element_at("_th", 2), F.lit("head")
        )
        .when(F.col(score_col) < F.element_at("_th", 1), F.lit("tail"))
        .otherwise(F.lit("middle")),
    )
    return labeled.drop("_th")


# --------------------------------------------------------------------------
# epoch shuffle + per-group caps
# --------------------------------------------------------------------------


def epoch_shuffle(
    df: DataFrame,
    key: Column,
    epoch: int,
    n_shards: int = 8,
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic training-epoch shuffle with sharding: every row gets
    a (shard, pos_in_shard) placement that is a pseudorandom permutation
    of the dataset, reshuffled per epoch, reproducible across runs,
    engines and cluster sizes (md5, the same engine-portable scheme as
    ``hash_bucket``).

    Scale shape: shard assignment is a narrow map on the hash; position
    within a shard is a ``row_number`` window PARTITIONED BY shard — the
    global permutation is never ordered through one task (a bare
    ``orderBy + row_number`` would be the classic single-partition
    bottleneck at 100 TB; sharded placement is how epoch shuffles are
    actually materialized). One shuffle total, on the shard key; each
    shard sorts independently.
    """
    okey = F.md5(
        F.concat_ws("|", F.lit(f"{salt}:{epoch}"), key.cast("string"))
    )
    shard = F.conv(F.substring(okey, 1, 8), 16, 10).cast("long") % n_shards
    placed = df.withColumn("_okey", okey).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("_okey", key.cast("string"))
    return placed.withColumn(
        "pos_in_shard", F.row_number().over(w)
    ).drop("_okey")


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap (domain balancing): within each group keep
    the top ``cap`` rows by ``order_col`` (descending, ties by
    ``id_col``), flag the rest dropped — the standard guard against one
    domain dominating a crawl-derived corpus.

    One shuffle on the group key; ranking is a window PARTITIONED BY the
    group, so no global ordering. A pathologically hot group still
    funnels through one task — at that point pre-aggregate with a
    two-phase per-partition top-``cap`` (see ``sort_topk`` pattern) or
    lean on AQE skew splitting for everything before the final rank.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.desc(order_col), F.asc(id_col)
    )
    return df.withColumn(
        "group_rank", F.row_number().over(w)
    ).withColumn("kept", F.col("group_rank") <= cap)


def weighted_sample(
    df: DataFrame,
    key: Column,
    weight: Column,
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws a reproducible uniform u from the md5
    of its key and competes with priority ``ln(u)/w`` — the top-``k``
    priorities are exactly a weighted sample without replacement, with
    inclusion probability proportional to weight.

    The md5-derived u uses the first 52 hex-bits as ``(h + 0.5)/2^52`` —
    exact in a double, so the identical expression in any engine draws
    the identical sample (the same property ``hash_bucket`` gives plain
    rates). Plan shape: priority is a narrow map; selection is
    TakeOrdered — per-partition top-k then a k-row merge, never a global
    sort. This is how you take a 10M-doc weighted subsample from 100 TB
    in one pass.
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", key, F.lit(salt))), 1, 13),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / float(1 << 52)
    priority = F.log(u) / weight.cast("double")
    # Order by the FULL-precision priority: large weights compress
    # priorities into a sliver near 0, so a pre-rounded ordering
    # collides en masse and the key tie-break would bias selection
    # toward lexicographically small keys. Round only the emitted
    # display column (cross-engine hash determinism; +0.0 folds -0.0).
    return (
        df.withColumn("_pri", priority)
        .orderBy(F.desc("_pri"), key)
        .limit(k)
        .withColumn("sample_priority", F.round(F.col("_pri"), 6) + F.lit(0.0))
        .drop("_pri")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    key: Column,
    weight: Column,
    k_per_group: int,
    salt: str = "wsg",
) -> DataFrame:
    """Per-group weighted sampling WITHOUT replacement: the A-ES draw of
    :func:`weighted_sample` ranked WITHIN each group — k docs per
    source/domain with inclusion probability ∝ weight inside its group.
    This is the stratified form a mixture pipeline actually runs ("keep
    the best-weighted k per domain"), and the window is partitioned by
    the group key so no global sort and no driver-side top-k exist:
    each group's rank is computed inside its own shuffle partition
    (skew-bounded by the per-group row count, AQE-splittable).

    Full-precision priorities order the window (the rounding-bias
    lesson from :func:`weighted_sample`); the emitted ``sample_rank``
    is the within-group rank, deterministic across engines.
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", key, F.lit(salt))), 1, 13),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / float(1 << 52)
    priority = F.log(u) / weight.cast("double")
    w = Window.partitionBy(group_col).orderBy(
        F.desc("_pri"), key
    )
    return (
        df.withColumn("_pri", priority)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k_per_group)
        .withColumn(
            "sample_priority", F.round(F.col("_pri"), 6) + F.lit(0.0)
        )
        .drop("_pri")
    )


def token_budget_fill(
    docs: DataFrame,
    budget_tokens: int,
    token_col: Column,
    salt: str = "tb-v1",
    id_col: str = "doc_id",
    coarse_buckets: int = 256,
) -> DataFrame:
    """Greedy TOKEN-BUDGET fill: walk documents in deterministic
    md5-priority order and keep each one whose inclusive running token
    total still fits ``budget_tokens`` — "give me a reproducible ~N-token
    slice of this corpus", the last step before packing a training
    shard.

    Scale shape: the naive formulation is ONE GLOBAL running-sum window
    (a single-partition sort — the anti-pattern). Here the priority
    space splits into ``coarse_buckets`` ranges: one bounded aggregate
    computes per-range token sums, a window over those ~256 rows
    produces exact range prefix totals, and the per-doc running sum
    windows PARTITION BY range (parallel, each seeded with its range's
    prefix) — identical answer, no global sort. The oracle runs the
    naive global window; matching it proves the decomposition exact.
    """
    pri = hash_bucket(
        F.col(id_col).cast("string"), salt=salt, buckets=10**9
    )
    rng = (F.col("pri") / F.lit(10**9 // coarse_buckets)).cast("int")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        token_col.cast("long").alias("n_tokens"),
    ).withColumn("pri", pri).withColumn("rng", rng)
    per_range = d.groupBy("rng").agg(F.sum("n_tokens").alias("rng_sum"))
    # ~coarse_buckets rows: the bounded-window exception (skew top-k
    # precedent), not a data-sized global sort
    prefix = per_range.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("rng_sum").over(
                Window.orderBy("rng").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("rng", "cum_before")
    w_doc = Window.partitionBy("rng").orderBy("pri", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.join(F.broadcast(prefix), "rng")
        .withColumn(
            "cum_incl",
            F.col("cum_before") + F.sum("n_tokens").over(w_doc),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("cum_incl") <= budget_tokens).alias("kept"),
        )
        .orderBy("doc_id")
    )
