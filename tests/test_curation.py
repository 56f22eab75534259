"""Curation-family tests: oracle compares for all six queries plus
semantic invariants (packing feasibility, sampler determinism) and the
plan gates that make decontamination scale-correct."""

import re

import pytest
from pyspark.sql import functions as F

from near_event_streams_spark.operators import curation
from near_event_streams_spark.plans.curation import (
    ORACLE_SQL,
    PACK_BUDGET,
    QUERIES,
)
from near_event_streams_spark.sources.tables import load_table
from tests.conftest import SF_DIR
from tests.oracle import compare, duck_connection
from tests.test_plan_quality import plan_text


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_curation_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    compare(df, duck, ORACLE_SQL[name], name=name)


def test_next_fit_bins_respect_budget(spark):
    """No bin exceeds the budget unless it holds a single oversized doc,
    and bin ids are contiguous from 0 within each shard."""
    docs = load_table(spark, SF_DIR, "documents")
    packed = curation.pack_next_fit(docs, budget=PACK_BUDGET)
    bins = (
        packed.groupBy("source", "bin_id")
        .agg(
            F.sum("n_tokens").alias("fill"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()
    )
    assert bins
    for r in bins:
        assert r["fill"] <= PACK_BUDGET or r["n_docs"] == 1, r
    by_source: dict[str, list[int]] = {}
    for r in bins:
        by_source.setdefault(r["source"], []).append(r["bin_id"])
    for source, ids in by_source.items():
        assert sorted(ids) == list(range(len(ids))), (source, sorted(ids))


def test_next_fit_never_splits_docs(spark):
    """Every doc appears exactly once (contrast with concat-split, where
    a doc conceptually straddles bins but is still assigned once)."""
    docs = load_table(spark, SF_DIR, "documents")
    packed = curation.pack_next_fit(docs, budget=PACK_BUDGET)
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()


def test_hash_sample_deterministic_and_partition_independent(spark):
    """Identical membership across runs AND across partitionings —
    the property rand()/df.sample() lacks."""
    docs = load_table(spark, SF_DIR, "documents")
    key = F.col("doc_id").cast("string")
    a = {
        r["doc_id"]
        for r in curation.hash_sample(docs, key, 30, "v1").collect()
    }
    b = {
        r["doc_id"]
        for r in curation.hash_sample(
            docs.repartition(13), key, 30, "v1"
        ).collect()
    }
    assert a == b
    assert 0 < len(a) < docs.count()


def test_mixture_rates_monotone(spark):
    """A higher-rate stratum keeps a superset of what a lower rate
    would keep (buckets are fixed; the rate only moves the cutoff)."""
    docs = load_table(spark, SF_DIR, "documents")
    key = F.col("doc_id").cast("string")
    lo = {
        r["doc_id"]
        for r in curation.mixture_sample(
            docs, "source", {}, 20, key, "m"
        ).collect()
    }
    hi = {
        r["doc_id"]
        for r in curation.mixture_sample(
            docs, "source", {}, 60, key, "m"
        ).collect()
    }
    assert lo <= hi and len(lo) < len(hi)


def test_decontaminate_plan_broadcasts_eval_grams(spark):
    """The scale contract: the tiny eval n-gram set broadcasts, so the
    (huge) train side joins without shuffling on the gram key and no
    cartesian product appears anywhere."""
    # the doc_id>=0 filter keeps the logical plan distinct from other
    # tests' decontaminate calls: their persisted flag sets would
    # otherwise splice a cached materialization plan (with its own gram
    # exchange) into this explain text.
    docs = load_table(spark, SF_DIR, "documents").filter("doc_id >= 0")
    is_eval = F.col("source").isin("src0", "src1")
    # broadcast_flags pinned: the adaptive path persists the flag set and
    # its cached materialization plan would double-count gram exchanges
    # in the explain text (see test_decontaminate_flag_join_size_adaptive
    # for the adaptive contract).
    df = curation.decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), n=8,
        broadcast_flags=True,
    )
    plan = plan_text(df, mode="simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # exactly one gram shuffle is allowed: the distinct() on the tiny
    # eval side feeding the BroadcastExchange. The train probe side must
    # not shuffle on gram.
    n_gram_shuffles = len(
        re.findall(r"Exchange hashpartitioning\(gram", plan)
    )
    assert n_gram_shuffles <= 1, plan


def test_decontaminate_flags_known_cross_source_dups(spark):
    """The synthetic corpus plants cross-source near-duplicates; 8-gram
    decontamination must flag at least one and keep the majority clean."""
    docs = load_table(spark, SF_DIR, "documents")
    is_eval = F.col("source").isin("src0", "src1")
    out = curation.decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), n=8
    )
    n_train = out.count()
    n_bad = out.filter("is_contaminated").count()
    assert 0 < n_bad < n_train * 0.5, (n_bad, n_train)


# --------------------------------------------------------------------------
# epoch shuffle + per-group caps + span removal (round-4 operators)
# --------------------------------------------------------------------------


def test_epoch_shuffle_is_permutation_and_epoch_sensitive(spark):
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators.curation import epoch_shuffle

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    e1 = epoch_shuffle(df, F.col("doc_id").cast("string"), epoch=1).collect()
    # every row placed exactly once; per-shard positions are 1..n_shard
    assert len(e1) == 200
    by_shard = {}
    for r in e1:
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # deterministic across runs...
    e1b = epoch_shuffle(df, F.col("doc_id").cast("string"), epoch=1).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e1b))
    # ...but a different epoch produces a different permutation
    e2 = epoch_shuffle(df, F.col("doc_id").cast("string"), epoch=2).collect()
    p1 = {r["doc_id"]: (r["shard"], r["pos_in_shard"]) for r in e1}
    p2 = {r["doc_id"]: (r["shard"], r["pos_in_shard"]) for r in e2}
    assert p1 != p2


def test_cap_per_group_keeps_top_n_only(spark):
    from near_event_streams_spark.operators.curation import cap_per_group

    rows = [(i, "g%d" % (i % 2), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = cap_per_group(df, "source", "score", cap=2).collect()
    kept = sorted(r["doc_id"] for r in out if r["kept"])
    # per group: top-2 by score desc -> g0: 8,6  g1: 9,7
    assert kept == [6, 7, 8, 9]
    assert all(r["group_rank"] >= 1 for r in out)


def test_remove_duplicate_spans_edges(spark):
    from near_event_streams_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    a = " ".join(f"w{i}" for i in range(8))   # two spans of 4
    b = " ".join(f"x{i}" for i in range(4))
    c = " ".join(f"y{i}" for i in range(4))
    rows = [
        (0, a),            # original: fully kept
        (1, a),            # exact copy of doc 0: fully removed
        (2, b + " " + a),  # unique head span kept, copied spans removed
        (3, c + " " + c),  # within-doc repeat: second span removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, span_tokens=4).collect()
    }
    assert out[0]["clean_text"] == a and out[0]["n_spans_removed"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_spans_removed"] == 2
    # doc 2's spans are (b, w0..w3, w4..w7): only b survives
    assert out[2]["clean_text"] == b and out[2]["n_spans_removed"] == 2
    assert out[3]["clean_text"] == c and out[3]["n_spans_removed"] == 1


def test_nb_distill_separates_planted_classes(spark):
    """Train on a teacher where class vocabularies are disjoint: the
    distilled scores must rank every positive doc above every negative
    doc (the classifier actually learns, not just mirrors the prior)."""
    from near_event_streams_spark.operators.text import nb_quality_distill

    pos = [(i, "good clean prose text here", True) for i in range(20)]
    neg = [(100 + i, "spam junk garbage noise blob", False) for i in range(10)]
    df = spark.createDataFrame(
        pos + neg, "doc_id long, text string, label boolean"
    )
    teacher = df.select("doc_id", "label")
    out = nb_quality_distill(df.select("doc_id", "text"), teacher).collect()
    pos_scores = [r["clf_score"] for r in out if r["label"]]
    neg_scores = [r["clf_score"] for r in out if not r["label"]]
    assert min(pos_scores) > max(neg_scores)
    assert all(r["agree"] for r in out if r["label"])


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    """A-ES weighted sampling: identical sample across runs and
    partitionings; rows with 100x the weight must be strongly
    overrepresented vs their uniform share."""
    from near_event_streams_spark.operators.curation import weighted_sample

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w double")
    key = F.col("id").cast("string")
    a = [r["id"] for r in weighted_sample(df, key, F.col("w"), k=60).collect()]
    b = [
        r["id"]
        for r in weighted_sample(
            df.repartition(17), key, F.col("w"), k=60
        ).collect()
    ]
    assert a == b
    heavy = sum(1 for i in a if i < 50)
    # uniform draw would include ~6 of the 50 heavy rows in 60 picks;
    # weight 100x must pull in the large majority of them
    assert heavy >= 35, heavy


def test_nb_distill_partial_teacher_keeps_unlabeled_docs(spark):
    """The normal distillation setup: the teacher labels a SUBSET and
    the model scores the whole corpus. Unlabeled docs must survive with
    null label/agree (not vanish), and tokens hashing to never-trained
    buckets must still count toward n_tokens via the smoothed
    zero-count prior weight."""
    from near_event_streams_spark.operators.text import nb_quality_distill

    rows = (
        [(i, "good clean prose text here", True) for i in range(10)]
        + [(100 + i, "spam junk garbage noise blob", False) for i in range(5)]
        # unseen vocabulary AND outside the teacher
        + [(200, "zyzzyva qwyjibo xylophone", None)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, label boolean"
    )
    teacher = df.filter(F.col("label").isNotNull()).select(
        "doc_id", "label"
    )
    out = {
        r["doc_id"]: r
        for r in nb_quality_distill(
            df.select("doc_id", "text"), teacher
        ).collect()
    }
    assert 200 in out, "unlabeled doc dropped from scoring"
    r = out[200]
    assert r["label"] is None and r["agree"] is None
    assert r["n_tokens"] == 3, "never-trained buckets dropped from count"
    assert r["clf_score"] is not None
    # labeled docs unchanged by the left-join rework
    assert all(out[i]["agree"] for i in range(10))


def test_quantize_zero_span_dimension_is_guarded(spark):
    """A corpus-constant dimension has max-min == 0; the code must pin
    its ratio to 0 (q = -128, exact reconstruction) instead of emitting
    NULL/NaN through the 0/0 division."""
    import math

    from near_event_streams_spark.operators.similarity import (
        quantize_int8_recon,
    )

    rows = [
        (i, [float(i), 7.5, float(i * 2), -1.0 + i]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = quantize_int8_recon(df, dim=4).collect()
    assert len(out) == 6
    for r in out:
        assert r["recon_cosine"] is not None
        assert math.isfinite(r["recon_cosine"])
        assert r["max_abs_err"] is not None and r["max_abs_err"] < 0.02
        # constant dim 2 encodes as -128 (ratio 0) for every vector
        assert r["q_head"].split(",")[1] == "-128"


def test_weighted_sample_large_weights_not_biased_by_rounding(spark):
    """With huge weights every priority ln(u)/w collapses into a sliver
    near 0: a pre-rounded ordering ties en masse and the key tie-break
    then favors lexicographically small keys. The ordering must use
    full-precision priorities — verified against an exact replica of
    the A-ES draw computed in Python."""
    import hashlib
    import math

    from near_event_streams_spark.operators.curation import weighted_sample

    w = 1.0e9
    rows = [(i, w) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = [
        r["id"]
        for r in weighted_sample(
            df, F.col("id").cast("string"), F.col("w"), k=40
        ).collect()
    ]

    def pri(i: int) -> float:
        h = int(hashlib.md5(f"{i}|ws".encode()).hexdigest()[:13], 16)
        return math.log((h + 0.5) / float(1 << 52)) / w

    want = [
        i
        for i in sorted(range(300), key=lambda i: (-pri(i), str(i)))[:40]
    ]
    assert got == want
    # rounding-bias fingerprint: the biased sampler returns ids 0,1,10,
    # 100,101... (lexicographic head); the exact one must not
    assert got != sorted(got, key=str)[:40] or want == got


def test_decontaminate_bloom_equals_exact(spark):
    """Bloom-prefiltered decontamination must return EXACTLY the plain
    operator's flags (no false negatives by construction; false
    positives die in the verify join) — checked at a deliberately tiny
    m_bits where bloom collisions are guaranteed to occur."""
    ev = spark.createDataFrame(
        [(100 + i, " ".join(f"ev{i}w{k}" for k in range(10)))
         for i in range(5)],
        "doc_id long, text string",
    )
    rows = [
        # doc 0 embeds eval doc 0's 8-gram -> contaminated
        (0, " ".join(f"ev0w{k}" for k in range(8)) + " tail here"),
        (1, " ".join(f"clean{k}" for k in range(12))),
        (2, "short doc"),
        (3, " ".join(f"other{k}" for k in range(20))),
    ]
    tr = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        r["doc_id"]: r["is_contaminated"]
        for r in curation.decontaminate(tr, ev, n=8).collect()
    }
    bloom = {
        r["doc_id"]: r["is_contaminated"]
        for r in curation.decontaminate_bloom(
            tr, ev, n=8, m_bits=256, k=3
        ).collect()
    }
    assert bloom == exact
    assert bloom[0] is True and bloom[1] is False and bloom[2] is False


def test_weighted_sample_per_group_matches_global_draw_per_stratum(spark):
    """The per-group sampler must equal running the global A-ES draw
    independently inside each stratum (same salt -> same priorities),
    and every group contributes exactly min(k, group size) rows."""
    import hashlib
    import math

    rows = [(i, f"s{i % 3}", float(1 + i % 7)) for i in range(90)]
    df = spark.createDataFrame(rows, "id long, source string, w double")
    got = curation.weighted_sample_per_group(
        df, "source", F.col("id").cast("string"), F.col("w"), k_per_group=5
    ).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}

    def pri(i, w):
        h = int(hashlib.md5(f"{i}|wsg".encode()).hexdigest()[:13], 16)
        return math.log((h + 0.5) / float(1 << 52)) / w

    for src, members in by_src.items():
        assert len(members) == 5
        assert sorted(r["sample_rank"] for r in members) == [1, 2, 3, 4, 5]
        pool = [(i, w) for i, s, w in rows if s == src]
        want = [
            i
            for i, _ in sorted(
                pool, key=lambda t: (-pri(t[0], t[1]), str(t[0]))
            )[:5]
        ]
        got_ids = [
            r["id"] for r in sorted(members, key=lambda r: r["sample_rank"])
        ]
        assert got_ids == want, src
