"""Physical-plan quality gates — the 100 TB design assertions.

Correctness tests prove the queries return the right rows; these prove
the PLANS are the ones we'd want on a 1000-executor cluster:

* predicate pushdown + column pruning reach the parquet scan,
* dimension joins broadcast (no big-big shuffle for small sides),
* the only nested-loop join is the intentional tiny-bands range join,
* narrow pipelines (routing) don't shuffle at all,
* whole-stage codegen covers the hot path.

If a refactor regresses one of these, the query still returns correct
rows at sf0.01 — but would fall over at scale. That's exactly what these
tests catch.
"""

import re

from pyspark.sql import functions as F

from near_event_streams_spark.plans import analytics, analytics_ext
from tests.conftest import SF_DIR


def plan_text(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def count_exchanges(plan: str) -> int:
    """Shuffle exchanges that would EXECUTE, not print occurrences.

    Matches both simple-mode ("Exchange hashpartitioning(...)") and
    formatted-mode ("(3) Exchange") layouts, excluding BroadcastExchange.
    Simple-mode explain prints an InMemoryRelation's cached plan inline
    under EVERY consumer that references it, so a persisted subtree's
    exchanges would be counted once per consumer even though they run
    exactly once at cache fill — the same cached body (identical modulo
    plan_id; expression ids are shared because it IS one analyzed plan)
    is therefore counted once, recursively for caches nested inside
    cached bodies (sigs inside bands in the ingest pipeline)."""
    formatted = len(re.findall(r"\(\d+\) Exchange\b", plan))
    if formatted:
        return formatted

    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    seen_bodies: set[str] = set()

    def count(block: list[str]) -> int:
        total = 0
        i = 0
        while i < len(block):
            line = block[i]
            if "InMemoryRelation" in line:
                d = depth(line)
                j = i + 1
                while j < len(block) and depth(block[j]) > d:
                    j += 1
                body = block[i + 1 : j]
                # strip plan ids AND expression ids: CacheManager
                # matches canonicalized plans (expr ids ignored), so a
                # self-join-dealiased second reference ([a#64L] over the
                # same cached [a#26L] body) is the SAME cache entry and
                # must not double-count (r7: graph_triangle_census)
                # dedent each body line before keying: the same cached
                # body prints at a different indentation depth under
                # each consumer, which defeated the dedup for deeply
                # shared diamonds (r7: graph_triangle_census)
                key = re.sub(
                    r"plan_id=\d+|#\d+L?",
                    "",
                    "\n".join(line.lstrip(" :+-") for line in body),
                )
                if key not in seen_bodies:
                    seen_bodies.add(key)
                    total += count(body)
                i = j
            else:
                if re.search(
                    r"\bExchange (hash|range)partitioning", line
                ):
                    total += 1
                i += 1
        return total

    return count(lines)


def test_q1_scan_pushes_filter_and_prunes_columns(spark):
    plan = plan_text(analytics.q1_pricing_summary(spark, SF_DIR))
    scan = plan[plan.index("Scan parquet") :]
    m = re.search(r"PushedFilters: \[(.*?)\]", scan)
    assert m and "l_shipdate" in m.group(1), plan
    rs = re.search(r"ReadSchema: struct<(.*?)>", scan)
    read_cols = rs.group(1)
    # 7 needed columns, and the unused ones must NOT be read
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        assert col in read_cols
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in read_cols, f"{col} not pruned:\n{scan[:800]}"


def test_q1_hot_path_is_whole_stage_codegen(spark):
    """AQE only finalizes codegen stages at execution: run the query,
    then assert the executed plan fused the scan→filter→partial-agg
    pipeline into WholeStageCodegen."""
    df = analytics.q1_pricing_summary(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n) Node" in the executed-plan string
    assert re.search(r"\*\(\d+\) HashAggregate", executed), executed


def test_q5_dimension_joins_broadcast(spark):
    plan = plan_text(analytics.q5_local_supplier(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan
    # the only shuffles: customer⋈orders, orders⋈lineitem sides + final agg
    assert count_exchanges(plan) <= 6, plan


def test_q14_part_join_broadcasts(spark):
    plan = plan_text(analytics_ext.q14_promo_effect(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the single exchange carries one partial-agg row per task (scalar
    # aggregate); the join itself must not shuffle lineitem
    assert count_exchanges(plan) == 1, plan


def test_range_join_is_broadcast_nested_loop(spark):
    """The bands range join SHOULD be a BroadcastNestedLoopJoin — tiny
    build side, non-equi condition. A shuffled NLJ or cartesian would be
    the scale bug."""
    plan = plan_text(analytics.join_range_price_bands(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_routing_pipeline_has_no_shuffle(spark):
    """Parity routing is filter+project+union — fully narrow; any
    exchange here would shuffle the whole event stream for nothing."""
    plan = plan_text(analytics.parity_event_routing(spark, SF_DIR))
    assert count_exchanges(plan) == 0, plan


def test_window_suite_single_shuffle(spark):
    """All window functions share one partitioning (user_id/custkey) —
    the plan must reuse a single exchange, not re-shuffle per function."""
    plan = plan_text(analytics.window_running_user_spend(spark, SF_DIR))
    assert count_exchanges(plan) == 1, plan


def test_semi_anti_joins_stay_joins(spark):
    """Whitelist/blacklist at table scale must be semi/anti joins (no
    collected-to-driver IN lists)."""
    semi = plan_text(analytics.join_semi_big_spenders(spark, SF_DIR))
    anti = plan_text(analytics.join_anti_no_urgent(spark, SF_DIR))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_events_scan_prunes_to_needed_columns(spark):
    plan = plan_text(analytics.json_functions(spark, SF_DIR))
    scan = plan[plan.index("Scan parquet") :]
    rs = re.search(r"ReadSchema: struct<(.*?)>", scan).group(1)
    assert "props" in rs and "event_type" in rs
    assert "user_id" not in rs and "value" not in rs, rs


def test_topk_uses_take_ordered_not_global_sort(spark):
    """LIMIT k over a sort must compile to TakeOrderedAndProject —
    a global Sort+CollectLimit materializes the full sort at scale."""
    plan = plan_text(analytics.sort_topk_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_runtime_bloom_filter_injection(spark):
    """A selective filter on one join side should inject a runtime bloom
    filter (might_contain) into the big side's scan — at 100 TB this
    prunes fact rows before the shuffle. Thresholds are lowered because
    the testdata is tiny; the default config (bloomFilter.enabled=true
    in session.py's Spark) applies it automatically at real scale."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = plan_text(j, "simple")
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dedup_pipelines_never_cartesian(spark):
    """The dedup candidate generators must stay key-equi joins: a
    CartesianProduct or nested-loop join appearing in these plans means
    a candidate-generation regression back to all-pairs."""
    from near_event_streams_spark.operators import dedup
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for name, df in [
        ("ppjoin", dedup.jaccard_pairs(docs, 0.8)),
        ("minhash", dedup.minhash_lsh_dedup(docs, 0.8)),
    ]:
        plan = plan_text(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_binned_range_join_is_equi_join(spark):
    """The binned range join must plan an ordinary shuffle/broadcast HASH
    join on the bin key — zero nested-loop — and return exactly the rows
    of the naive theta join."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators.rangejoin import (
        binned_range_join,
    )
    from near_event_streams_spark.sources.tables import load_table

    part = load_table(spark, SF_DIR, "part")
    bands = spark.createDataFrame(
        [("low", 0.0, 1000.0), ("mid", 1000.0, 1500.0),
         ("high", 1500.0, 2000.0), ("lux", 2000.0, 10000.0)],
        "band string, lo double, hi double",
    )
    binned = binned_range_join(
        part, bands, value_col="p_retailprice", bin_width=500.0
    ).select("p_partkey", "band")
    plan = plan_text(binned)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    naive = part.join(
        F.broadcast(bands),
        (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
    ).select("p_partkey", "band")
    assert {tuple(r) for r in binned.collect()} == {
        tuple(r) for r in naive.collect()
    }


def test_verify_pairs_size_adaptive_join(spark):
    """The exact-Jaccard verify step must not hardcode a broadcast of the
    doc->shingle-set map (OOM at 1B docs): broadcast_sets=False has to
    plan shuffle-merge joins with zero BroadcastExchange, and return the
    same rows as the broadcast path."""
    from near_event_streams_spark.operators import dedup
    from near_event_streams_spark.sources.tables import load_table

    # distinct logical plan from other tests' calls: a cached `sets` from
    # an earlier jaccard_pairs(docs, ...) would otherwise splice its OWN
    # materialization-time physical plan (with broadcasts) into explain()
    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 0")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        merged = dedup.jaccard_pairs(docs, 0.8, broadcast_sets=False)
        plan = plan_text(merged)
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        bcast = dedup.jaccard_pairs(docs, 0.8, broadcast_sets=True)
        assert "BroadcastExchange" in plan_text(bcast)
        a = {tuple(r) for r in merged.collect()}
        b = {tuple(r) for r in bcast.collect()}
        assert a == b and a, "join-strategy change altered results"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_centroids_not_inlined_in_plan(spark):
    """Centroids must ship as a broadcast variable (executor-side), not as
    Catalyst literals: a literal array re-analyzes O(n_clusters x dim)
    expression nodes per query and stops working at the 4-65k centroids a
    1B-vector index needs. The probe must be an Arrow-batched eval, and
    the candidate join a plain equi-join on cluster."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    df = similarity.ivf_topk(q, emb, k=5, n_clusters=16, nprobe=4)
    plan = plan_text(df)
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 16 centroids x 64 dims of float literals would be >10k chars alone;
    # the whole plan staying small proves nothing got inlined.
    assert len(plan) < 60_000, f"plan unexpectedly large: {len(plan)} chars"


def test_ann_lsh_multiprobe_stays_equi_join(spark):
    """Query-side multiprobe expands probes, the corpus side must keep
    exactly n_bands rows/vector and the bucket join must stay key-equi."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    plan = plan_text(similarity.lsh_topk(q, emb, dim=64, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_flag_join_size_adaptive(spark):
    """The contaminated-id flag-back join must not hardcode a broadcast
    (a dirty 100 TB corpus can flag an unbounded id set): with
    broadcast_flags=False the left join must plan with zero
    BroadcastExchange on the flag side, and return the same rows as the
    broadcast path."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators import curation
    from near_event_streams_spark.sources.tables import load_table

    # fresh logical plan (see InMemoryRelation caching note above)
    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 0")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0).limit(20)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = curation.decontaminate(
            train, ev, n=8, broadcast_eval=False, broadcast_flags=False
        ).select("doc_id", "is_contaminated")
        plan = plan_text(shuffled)
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        bcast = curation.decontaminate(
            train, ev, n=8, broadcast_flags=True
        ).select("doc_id", "is_contaminated")
        assert "BroadcastExchange" in plan_text(bcast)
        a = {tuple(r) for r in shuffled.collect()}
        b = {tuple(r) for r in bcast.collect()}
        assert a == b and a, "join-strategy change altered results"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bm25_stats_broadcast_and_no_cartesian(spark):
    """BM25's corpus statistics (N, avgdl — one row) and per-term df
    (<= |query terms| rows) must reach the score as broadcasts; the only
    nested-loop join allowed is the intentional 1-row stats cross join,
    and nothing may plan a CartesianProduct."""
    from near_event_streams_spark.operators import text as text_ops
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 0")
    df = text_ops.bm25_rank(docs, ("spark", "merge"))
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_bm25_ranking_is_topk_not_global_window(spark):
    """The ranking must be two-phase: TakeOrderedAndProject bounds the
    rows reaching the single-partition row_number window to ``top_k``.
    The unbounded matched-doc set must never feed an unpartitioned
    window directly — a high-df query term over a 100 TB corpus would
    otherwise funnel every matched doc through ONE task. The plan string
    prints parents before children, so Window before TakeOrdered in the
    text means the window consumes the (<= top_k row) limit output."""
    from near_event_streams_spark.operators import text as text_ops
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 0")
    df = text_ops.bm25_rank(docs, ("spark", "merge"), top_k=50)
    plan = plan_text(df, mode="simple")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window" in plan, plan[:2000]
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
        "row_number window must rank the TakeOrdered top-k output, "
        "not the full matched set:\n" + plan[:2000]
    )


def test_substring_spans_gram_join_not_forced_broadcast(spark):
    """The gram->doc-count table is unbounded at corpus scale, so the
    join back must NOT carry a broadcast hint: with the auto-broadcast
    threshold off it has to degrade to a shuffle join."""
    from near_event_streams_spark.operators import dedup
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 1")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dedup.duplicated_ngram_stats(docs, n=8)
        plan = plan_text(df)
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ingest_neardup_probe_joins_are_equi(spark):
    """The incremental near-dup probes (batch fp/bands vs registry) must
    be key-equi joins — candidate generation may never plan a cartesian.
    The only nested-loop joins allowed are the 1-row invariant-summary
    crossJoins at the top of the gate query."""
    from near_event_streams_spark.plans import llm_ops

    df = llm_ops.ingest_neardup_incremental(spark, SF_DIR)
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 6, plan[:3000]


def test_semantic_dedup_cluster_join_is_equi(spark):
    """SemDeDup's within-cluster pair generation must be a key-equi
    self-join on the cluster id — never a cartesian over the corpus."""
    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = similarity.semantic_dedup_pairs(emb)
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_rollup_cascade_reuses_base_exchange(spark):
    """The cascade's scale claim: the raw events scan + partial agg
    shuffle executes ONCE; the coarser 1h/6h levels must consume the
    finest level's exchange as ReusedExchange, not re-scan the fact
    table. (AQE finalizes reuse at execution, so run first.)"""
    from near_event_streams_spark.plans import timeseries as ts

    df = ts.QUERIES["ts_rollup_cascade"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2, executed[:3000]


def test_remove_spans_window_is_partitioned(spark):
    """ExactSubstr removal's first-occurrence decision must be a window
    PARTITIONED BY the span text (per-span groups, one key-equi shuffle)
    — an empty partition spec would order the whole corpus through one
    task. And there must be no pair joins anywhere."""
    from near_event_streams_spark.operators import dedup
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = dedup.remove_duplicate_spans(docs, span_tokens=16)
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    m = re.search(r"windowspecdefinition\((.*?)\)", plan)
    assert m and "span_text" in m.group(1), (
        "row_number window must partition by span_text:\n" + plan[:2000]
    )


def test_nb_distill_model_joins_broadcast(spark):
    """The hashed-NB model is bounded (4096 buckets) by construction, so
    BOTH model-side joins — weights back onto the token stream and the
    single-row totals — must broadcast; the token stream itself must
    never be broadcast or nested-loop joined."""
    from near_event_streams_spark.operators import text as text_ops
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    teacher = text_ops.repetition_features(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    df = text_ops.nb_quality_distill(docs, teacher, buckets=4096)
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan[:2000]


def test_epoch_shuffle_window_partitioned_by_shard(spark):
    """Epoch shuffle must never rank the global permutation through one
    task: the row_number window has to be partitioned by the shard."""
    from near_event_streams_spark.operators import curation
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = curation.epoch_shuffle(
        docs.select("doc_id"), key=F.col("doc_id").cast("string"), epoch=1
    )
    plan = plan_text(df, mode="simple")
    m = re.search(r"windowspecdefinition\((.*?)\)", plan)
    assert m and "shard" in m.group(1), plan[:2000]
    assert count_exchanges(plan) <= 1, plan[:2000]


def test_cap_per_group_single_group_shuffle(spark):
    """Per-source caps: one shuffle on the group key, group-partitioned
    window, no joins at all."""
    from near_event_streams_spark.operators import curation
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = curation.cap_per_group(
        docs.select("doc_id", "source", "n_chars"),
        group_col="source",
        order_col="n_chars",
        cap=10,
    )
    plan = plan_text(df, mode="simple")
    m = re.search(r"windowspecdefinition\((.*?)\)", plan)
    assert m and "source" in m.group(1), plan[:2000]
    assert count_exchanges(plan) <= 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_tfidf_df_join_not_forced_broadcast(spark):
    """The term→df table is vocabulary-sized (unbounded at corpus
    scale): the tf←df join must not carry a broadcast hint, and the
    ranking window must partition by doc_id."""
    from near_event_streams_spark.operators import text as text_ops
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 1")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = text_ops.tfidf_top_terms(docs, top_n=3)
        plan = plan_text(df, mode="simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
        m = re.search(r"windowspecdefinition\((.*?)\)", plan)
        assert m and "doc_id" in m.group(1), plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pmi_topk_is_take_ordered(spark):
    """PMI's final top-k must plan as TakeOrderedAndProject (per-partition
    top-k + k-row merge), never a global sort; the pair←unigram joins are
    key-equi (no cartesian beyond the two 1-row scalar totals)."""
    from near_event_streams_spark.operators import text as text_ops
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = text_ops.pmi_collocations(docs, min_count=5, top_k=50)
    plan = plan_text(df, mode="simple")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    # only the two broadcast 1-row totals may nested-loop join
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:2000]


def test_token_encode_vocab_join_broadcasts(spark):
    """The vocabulary is bounded at vocab_size rows by construction, so
    the encode join must broadcast — the token stream never shuffles on
    the term key for the join itself."""
    from near_event_streams_spark.operators import text as text_ops
    from near_event_streams_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = text_ops.encode_token_ids(docs, vocab_size=64)
    plan = plan_text(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_not_nlj(spark):
    """The interval×interval overlap join must meet on the bin equi-key
    — an ordinary shuffle/broadcast HASH join — never a nested loop or
    cartesian over the two interval sets."""
    from near_event_streams_spark.plans import analytics_ext

    df = analytics_ext.join_interval_overlap(spark, SF_DIR)
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "Join" in plan and "_bin" in plan, plan[:2000]


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime bloom-filter injection (on by default, gated
    behind a 10 GB application-side scan threshold that test data never
    reaches) must fire on this repo's fact⟕selective-dim join shape
    once the size gate is met — at 100 TB this is what prunes the fact
    scan by the dim predicate before the shuffle. Lower the thresholds
    in-session to simulate the size gate and assert the injected
    might_contain probe."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold",
            "100MB",
        )
        # broadcast disabled: a broadcast join needs no runtime filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_text(j, mode="simple")
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_variant_shredded_write_and_pushed_scan(spark):
    """variant_shredded_pushdown's two 100 TB claims, mechanically:
    (a) the written parquet file is SHREDDED — its footer carries a
    ``typed_value`` group with one typed subcolumn per object field
    (including the un-queried ``uid``); (b) ``pushVariantIntoScan``
    rewrote the three ``variant_get`` paths INTO the scan, so the
    ReadSchema is a typed 3-field struct — the full variant binary is
    never materialized and the untouched ``uid`` subcolumn is never
    decoded."""
    import glob
    import hashlib

    df = analytics_ext.QUERIES["variant_shredded_pushdown"](spark, SF_DIR)
    plan = plan_text(df)
    scan = plan[plan.index("Scan parquet") :]
    rs = re.search(r"ReadSchema: struct<pv:struct<([^>]*)>", scan)
    assert rs, f"variant_get not pushed into scan:\n{scan[:1500]}"
    fields = rs.group(1)
    assert fields.count(":") == 3, fields  # exactly the 3 requested
    assert "bigint" in fields and "string" in fields and "double" in fields
    assert "variant" not in fields.lower(), fields

    # the query writes its shredded file to a per-call mkdtemp scratch
    # dir (unique suffix); resolve the one THIS call just wrote from
    # the shared scratch tracker instead of guessing a fixed path
    from near_event_streams_spark.plans import _common

    digest = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    path = _common._SCRATCH_DIRS[f"nes_variant_shred_{digest}_"][-1]
    part = glob.glob(f"{path}/*.parquet")[0]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(part)
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), hpath
    )
    schema = footer.getFileMetaData().getSchema().toString()
    assert "typed_value" in schema, schema
    for field in ("uid", "val", "etype", "k"):
        assert f"group {field} " in schema or f"group {field}\n" in schema, (
            field,
            schema,
        )

    # (c) a predicate on variant_get reaches PushedFilters against the
    # shredded typed subcolumn — semi-structured data with full
    # predicate pushdown, the property that makes VARIANT viable as a
    # 100 TB storage format rather than a parse-everything tax
    pred = spark.read.parquet(path).filter(
        F.variant_get(F.col("pv"), "$.k", "bigint") > 50
    ).select(F.variant_get(F.col("pv"), "$.etype", "string").alias("e"))
    pplan = plan_text(pred)
    pscan = pplan[pplan.index("Scan parquet") :]
    m = re.search(r"PushedFilters: \[([^\]]*)\]", pscan)
    assert m and "GreaterThan" in m.group(1), pscan[:1500]


def test_ivfpq_persisted_probe_partition_prunes(spark, tmp_path):
    """The persisted IVF-PQ index's 100 TB claim, mechanically: the
    codes layout is hive-partitioned by coarse cluster, so a probe's
    cell selection must reach the scan as a PARTITION filter — Spark's
    dynamic partition pruning injects ``dynamicpruningexpression(
    cluster IN ...)`` from the probe side of the join, and the probed
    scan reads only the touched cluster directories (nprobe of
    n_clusters — at 4,096 production cells with nprobe=32, <1% of the
    index)."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    spark.catalog.clearCache()
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "pqidx")
    enc, cents, books = similarity.ivfpq_index(emb, n_clusters=16, m=8)
    similarity.ivfpq_write(enc, cents, books, path)
    idx = similarity.ivfpq_read(spark, path)
    out = similarity.ivfpq_topk(
        emb.filter(F.col("vec_id") < 3), emb, k=5, nprobe=2, refine=4,
        index=idx,
    )
    fmt = plan_text(out, mode="formatted")
    dpp_lines = [
        line.strip()
        for line in fmt.split("\n")
        if "PartitionFilters" in line
        and "dynamicpruningexpression" in line
    ]
    assert any("cluster" in line for line in dpp_lines), fmt[:3000]


def test_opq_persisted_probe_partition_prunes(spark, tmp_path):
    """The OPQ twin of the pin above: opq_read hands back the same
    hive-partitioned codes frame, so the persisted-OPQ probe must get
    the identical dynamic-partition-pruned scan — the rotation changes
    the scoring math, never the pruning story."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    spark.catalog.clearCache()
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "opqidx")
    enc, cents, rot, books = similarity.opq_index(emb, n_clusters=16, m=8)
    similarity.opq_write(enc, cents, rot, books, path)
    idx = similarity.opq_read(spark, path)
    out = similarity.opq_topk(
        emb.filter(F.col("vec_id") < 3), emb, k=5, nprobe=2, refine=4,
        index=idx,
    )
    fmt = plan_text(out, mode="formatted")
    dpp_lines = [
        line.strip()
        for line in fmt.split("\n")
        if "PartitionFilters" in line
        and "dynamicpruningexpression" in line
    ]
    assert any("cluster" in line for line in dpp_lines), fmt[:3000]
