#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage: ``python bench.py`` (it takes no arguments).

Each query runs once cold and three times steady, materialized via
count() on a cached-nothing plan (no collect of full results — we time
the engine, not the driver pickle). One stderr line per query gives the
steady median, the steady min–max, the cold time and the row count. The
last stdout line is ONE JSON line (:func:`result_line`):
  {"metric": "...", "value": <non-heavy sum>, "unit": "sec", "sf": <sf>,
   "heavy": {name: sec}, "value_all": <sum>, "queries": {name: sec, ...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from near_event_streams_spark.plans import (  # noqa: E402
    analytics,
    analytics_ext,
    curation,
    llm_ops,
    timeseries,
)
from near_event_streams_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the scale-sensitive shapes (scans, shuffles, joins,
# windows, dedup joins, vector scoring).
HEADLINE = [
    ("q1_pricing_summary", analytics.QUERIES["q1_pricing_summary"]),
    ("q3_shipping_priority", analytics.QUERIES["q3_shipping_priority"]),
    ("q5_local_supplier", analytics.QUERIES["q5_local_supplier"]),
    ("join_outer_order_counts", analytics.QUERIES["join_outer_order_counts"]),
    ("join_asof_purchase_click", analytics.QUERIES["join_asof_purchase_click"]),
    ("window_running_user_spend", analytics.QUERIES["window_running_user_spend"]),
    ("sessionize_events", analytics.QUERIES["sessionize_events"]),
    ("tumbling_quarter_hour", analytics.QUERIES["tumbling_quarter_hour"]),
    ("parity_event_routing", analytics.QUERIES["parity_event_routing"]),
    ("q9_product_profit", analytics_ext.QUERIES["q9_product_profit"]),
    ("q13_customer_distribution", analytics_ext.QUERIES["q13_customer_distribution"]),
    ("q18_large_volume", analytics_ext.QUERIES["q18_large_volume"]),
    ("dedup_ngram_jaccard_docs", llm_ops.QUERIES["dedup_ngram_jaccard_docs"]),
    # pair-list detail op: benches the LSH dedup join itself, not the
    # (heavier, exact-baseline-included) invariant gate query
    ("dedup_minhash_lsh_docs", llm_ops.dedup_minhash_lsh_pairs),
    ("ann_cosine_topk", llm_ops.QUERIES["ann_cosine_topk"]),
    ("curation_pipeline", llm_ops.QUERIES["curation_pipeline"]),
    # applyInPandas sequential packing + n-gram semi-join decontamination:
    # the Arrow-batched Python paths need a wall-time datapoint too
    ("pack_docs_next_fit", curation.QUERIES["pack_docs_next_fit"]),
    ("decontaminate_train_docs", curation.QUERIES["decontaminate_train_docs"]),
    # round-4 families: hypertable rollup cascade (one raw-scan agg +
    # re-aggregation) and the incremental near-dup ingest decision (the
    # operator alone — fp anti-join + band probe + within-batch pass —
    # not the invariant gate's exact ground-truth recomputation)
    ("ts_rollup_cascade", timeseries.QUERIES["ts_rollup_cascade"]),
    ("ingest_neardup_select", llm_ops.ingest_neardup_select),
    # round-4: ExactSubstr removal — span-key shuffle + doc reassembly,
    # the linear-cost dedup path that replaces pair joins at 100 TB
    ("dedup_remove_spans", llm_ops.QUERIES["dedup_remove_spans"]),
    # round-5: rolling-distinct actives (combo-explode + 2-agg shape)
    # and the Bloom-prefiltered decontamination — benched next to its
    # exact twin above DELIBERATELY showing its overhead at this scale:
    # each run rebuilds the bitmap (~1 s) that a broadcast gram join
    # doesn't need; the design wins only when the eval side outgrows
    # a comfortable broadcast hash table (SCALE.md round-5 notes)
    ("active_users_dau_wau_mau", analytics_ext.QUERIES["active_users_dau_wau_mau"]),
    ("decontaminate_bloom_docs", curation.QUERIES["decontaminate_bloom_docs"]),
    # round-6: the fixed-point iterative k-means (broadcast-k assignment
    # + one (cluster,pos) agg per superstep) and the asymmetric
    # containment PPJoin (full-index b side — the heavier prefix-filter
    # variant, worth its own wall-time datapoint)
    ("emb_kmeans_lloyd", llm_ops.QUERIES["emb_kmeans_lloyd"]),
    ("dedup_containment_docs", llm_ops.QUERIES["dedup_containment_docs"]),
    # round-7: matrix-free fixed-point power iteration (zero-shuffle
    # projection over a plan-literal direction) and the recursive-CTE
    # rewrite (ancestor-path explode + single hash agg)
    ("emb_power_iteration", llm_ops.QUERIES["emb_power_iteration"]),
    ("hierarchy_subtree_rollup", analytics_ext.QUERIES["hierarchy_subtree_rollup"]),
    # round-8: the heavy iterative/graph family enters the headline set
    # so a plan regression in the costliest queries is caught
    # round-over-round (previously only in the ad-hoc scale stress).
    # These amortize whole-stage-codegen over many supersteps, so their
    # cold-vs-steady gap is the largest in the suite — read the
    # dispersion bands, not single runs.
    ("graph_pagerank_copurchase", analytics_ext.QUERIES["graph_pagerank_copurchase"]),
    ("graph_label_propagation", analytics_ext.QUERIES["graph_label_propagation"]),
    ("graph_triangle_census", analytics_ext.QUERIES["graph_triangle_census"]),
    ("dedup_clusters", llm_ops.QUERIES["dedup_clusters"]),
    ("text_bpe_merges", llm_ops.QUERIES["text_bpe_merges"]),
    # round-8: approximate-candidate containment (one-sided MinHash
    # slots, detail-pairs form) benched NEXT TO its exact PPJoin twin
    # above — the headline number that justifies the escape hatch
    ("dedup_containment_lsh_docs", llm_ops.dedup_containment_lsh_pairs),
    # round-9: IVF-PQ approximate ANN (detail form, benched NEXT TO the
    # brute-force ann_cosine_topk above — the 16x candidate-scan byte
    # reduction path), the ln-based PSI drift monitor (two-scan shape),
    # and the shredded-VARIANT write->pushdown-read roundtrip (the only
    # headline query that exercises the storage layer both ways)
    ("ann_ivfpq_topk", llm_ops.ann_ivfpq_topk_detail),
    ("drift_psi_log", curation.QUERIES["drift_psi_log"]),
    ("variant_shredded_pushdown", analytics_ext.QUERIES["variant_shredded_pushdown"]),
    # round-10: perceptual-hash image near-dedup — the decode (Arrow
    # mapInPandas) + dHash + band-bucket-join + Hamming-verify shape,
    # the multimodal twin of the MinHash text path (322k verified pairs
    # at sf0.1)
    ("multimodal_neardup_images", llm_ops.QUERIES["multimodal_neardup_images"]),
]

# Heavy tier: reported in ``heavy`` outside the headline sum, so one
# noisy ~20 s query (at sf0.1) cannot read as a round-over-round plan
# regression; ``value_all`` includes it.
HEAVY = {"graph_triangle_census"}


def result_line(timings: dict[str, float], heavy: set[str], sf) -> str:
    """The bench's JSON result line. ``value`` sums the steady medians
    of the non-heavy queries. The line must stay under the 2,000-byte
    stdout tail that consumers parse, which
    ``tests/test_cli.py::test_bench_result_line_fits_stdout_tail`` gates."""
    total = sum(v for k, v in timings.items() if k not in heavy)
    return json.dumps(
        {
            "metric": "headline_query_wall_time_total",
            "value": round(total, 2),
            "unit": "sec",
            "sf": sf,
            "heavy": {n: round(timings[n], 2) for n in sorted(heavy)},
            "value_all": round(sum(timings.values()), 2),
            "queries": {k: round(v, 2) for k, v in timings.items()},
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="nes-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + file listing once, outside timed region
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    # Each query runs 4×: one discarded cold run (pays one-time
    # whole-stage-codegen JIT — a fixed cost irrelevant at cluster scale
    # where a compiled plan processes TBs), then 3 steady runs. Reported
    # time is the MEDIAN of the steady runs.
    timings: dict[str, float] = {}
    for name, fn in HEADLINE:
        runs = []
        for _ in range(4):
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)
        steady = sorted(runs[1:])
        timings[name] = round(steady[1], 3)
        print(
            f"# {name}: {timings[name]:.3f}s median "
            f"({steady[0]:.3f}-{steady[-1]:.3f}s steady) / "
            f"{runs[0]:.3f}s cold ({n} rows)"
            f"{'  [heavy tier — outside headline sum]' if name in HEAVY else ''}",
            file=sys.stderr,
        )

    print(
        result_line(
            timings, HEAVY, float(sf) if sf.replace(".", "").isdigit() else sf
        )
    )
    spark.stop()


if __name__ == "__main__":
    # Only a bare invocation runs the suite: a stray argument must not
    # fall through to a full run of every query.
    if sys.argv[1:]:
        raise SystemExit(
            f"unrecognized arguments: {' '.join(sys.argv[1:])}\n"
            "usage: bench.py"
        )
    main()
