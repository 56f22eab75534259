"""Incremental dedup decisions: cross-batch exact and near-dup dedup
against a registry of already-accepted docs (``neardup_select``) and
the persistent image registry, with replay safety."""

import json
import os

import pytest
from pyspark.sql import functions as F

from near_event_streams_spark.operators import dedup as dd
from near_event_streams_spark.operators import multimodal
from near_event_streams_spark.streaming import ingest, upsert


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _registry(accepted, id_col="doc_id"):
    """(reg_fp, reg_bands) of already-accepted docs, built the way
    ``plans/llm_ops._neardup_registry_frames`` builds the gated query's.
    The accepted rows are materialized first, as a stored registry would
    be, so the probe does not re-run the decision that produced them."""
    accepted = accepted.select(id_col, "text").localCheckpoint()
    reg_fp = accepted.select(
        ingest.fingerprint_col("text").alias("fingerprint")
    )
    reg_bands = dd.band_keys_from_sig(
        dd.minhash_sig_array(accepted, id_col=id_col)
    ).select("band", "bucket", F.col("sig").alias("reg_sig"))
    return reg_fp, reg_bands


def _ids(df, id_col="doc_id"):
    return {r[id_col] for r in df.collect()}


def test_static_incremental_dedup_across_calls(spark):
    """Batch 2 must drop docs whose (normalized) text batch 1 already
    accepted — including whitespace/case variants — and keep new ones."""
    b1 = _docs(spark, [(1, "alpha beta gamma"), (2, "delta epsilon")])
    s1 = ingest.neardup_select(b1, None, None)
    assert _ids(s1) == {1, 2}

    b2 = _docs(
        spark,
        [
            (10, "  ALPHA   beta GAMMA "),  # normalization dup of doc 1
            (11, "zeta eta"),               # new
            (12, "zeta eta"),               # within-batch dup of 11
        ],
    )
    s2 = ingest.neardup_select(b2, *_registry(s1))
    got2 = _ids(s2)
    assert got2 == {11}, got2


# ---------------------------------------------------------------------------
# Incremental NEAR-dup decision (exact + MinHash bands)
# ---------------------------------------------------------------------------

BASE = (
    "the quick brown fox jumps over the lazy dog while rain falls on "
    "the quiet green field near the old stone bridge at dawn"
)
NEAR = BASE.replace("rain", "snow")  # one word: high-Jaccard near-dup
OTHER = (
    "completely different content about spark physical plans shuffle "
    "exchanges broadcast joins and adaptive query execution at scale"
)


def test_neardup_static_catches_cross_batch_near_copies(spark):
    b1 = _docs(spark, [(1, BASE), (2, OTHER)])
    a1 = ingest.neardup_select(b1, None, None)
    assert _ids(a1) == {1, 2}

    b2 = _docs(
        spark,
        [
            (10, NEAR),              # near-dup of registered doc 1
            (11, BASE),              # exact dup of registered doc 1
            (12, "zeta eta theta iota kappa wholly new words here today"),
        ],
    )
    a2 = ingest.neardup_select(b2, *_registry(a1))
    assert _ids(a2) == {12}


def test_neardup_within_batch_greedy_drop(spark):
    b = _docs(spark, [(5, NEAR), (3, BASE), (7, OTHER)])
    acc = ingest.neardup_select(b, None, None)
    # 3 keeps (smallest), 5 dropped as near-dup of 3, 7 unrelated
    assert _ids(acc) == {3, 7}


def test_neardup_short_docs_fall_back_to_exact(spark):
    """Sub-bigram docs (one word) have no signature: near machinery must
    skip them (sig NULL), exact dedup still applies."""
    b1 = _docs(spark, [(1, "hello")])
    a1 = ingest.neardup_select(b1, None, None)
    rows = a1.collect()
    assert [r["doc_id"] for r in rows] == [1] and rows[0]["sig"] is None

    b2 = _docs(spark, [(2, "  HELLO "), (3, "world")])
    a2 = ingest.neardup_select(b2, *_registry(a1))
    assert _ids(a2) == {3}


def test_neardup_replay_after_commit_accepts_nothing(spark):
    """Re-deciding a batch against a registry that already holds its
    accepted set must accept zero docs — accepted docs hit their own fp
    rows, near-dropped docs hit the registered bands or the
    still-present smaller batch doc."""
    batch = _docs(
        spark,
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE), (5, "tiny")],
    )
    acc = ingest.neardup_select(batch, None, None)
    got = _ids(acc)
    assert got == {1, 3, 5}, got  # 2 near-dup of 1, 4 exact dup of 1

    replay = ingest.neardup_select(batch, *_registry(acc))
    assert replay.count() == 0


def test_neardup_replay_empty_on_random_corpora(spark):
    """Property form of the replay check: for ANY batch (random vocab,
    exact dups, near-dups, sub-bigram docs), once the accepted set is
    registered, re-deciding the identical batch must accept ZERO docs —
    every accepted doc hits its own fp row, every dropped doc
    re-resolves identically."""
    import random

    for seed in (11, 42, 77):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(rng.randint(5, 30))]
        rows = []
        for i in range(30):
            n = rng.randint(1, 25)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        # exact dups, near-dups (1-word mutation), and 1-word docs
        for j, base in enumerate(rng.sample(rows, 8)):
            w = base[1].split()
            if len(w) > 3 and j % 2:
                w[rng.randrange(len(w))] = rng.choice(vocab)
            rows.append((100 + j, " ".join(w)))
        rows.append((200, "solo"))
        rows.append((201, "solo"))

        batch = _docs(spark, rows)
        acc = ingest.neardup_select(batch, None, None)
        n_acc = acc.count()
        assert 0 < n_acc <= len(rows)
        replay = ingest.neardup_select(batch, *_registry(acc))
        leaked = [tuple(r) for r in replay.select("doc_id").collect()]
        assert not leaked, f"seed={seed}: replay accepted {leaked}"


def test_upsert_bucket_cols_meta_pinned(spark, tmp_path):
    """A store created with prefix bucketing must refuse a merge under
    different bucket_cols — same protection as the other layout params."""
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [("a", 1, "x", 0)], "k string, b long, v string, seq long"
    )
    upsert.merge_upsert(
        df, path, key_cols=["k", "b"], seq_col="seq", bucket_cols=["k"]
    )
    with pytest.raises(ValueError, match="bucket"):
        upsert.merge_upsert(
            df, path, key_cols=["k", "b"], seq_col="seq",
            bucket_cols=["k", "b"],
        )
    # matching layout still merges
    upsert.merge_upsert(
        df, path, key_cols=["k", "b"], seq_col="seq", bucket_cols=["k"]
    )


def test_band_keys_from_sig_matches_wide_lsh_banding(spark):
    """The array-form banding (registry path) must land every doc in the
    IDENTICAL buckets as the wide h0..hk banding (batch LSH path) — the
    claim that lets signatures registered by one pipeline be probed by
    the other. Verified by deriving candidate pairs both ways."""
    rows = [(i, f"shared words {'x' * (i % 3)} alpha beta gamma {i % 4}")
            for i in range(20)]
    docs = _docs(spark, rows)
    sets = dd.shingle_id_sets(docs)
    sh = sets.select("doc_id", F.explode("sh").alias("sid"))
    wide_pairs = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in dd.lsh_candidate_pairs(dd.minhash_signatures(sh)).collect()
    }
    bands = dd.band_keys_from_sig(dd.minhash_sig_array(docs))
    a = bands.select(F.col("doc_id").alias("a_doc_id"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("b_doc_id"), "band", "bucket")
    arr_pairs = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in a.join(b, ["band", "bucket"])
        .filter(F.col("a_doc_id") < F.col("b_doc_id"))
        .select("a_doc_id", "b_doc_id")
        .distinct()
        .collect()
    }
    assert wide_pairs == arr_pairs and arr_pairs, (wide_pairs, arr_pairs)


def _ppm(w, h, vals):
    return (f"P3\n{w} {h}\n255\n" + " ".join(str(v) for v in vals)).encode()


def _media(spark, rows):
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _img(seed, shift=0):
    """Deterministic 6x6 image with a SEED-DEPENDENT difference
    structure (distinct seeds land >6 Hamming apart: 3↔8=14, 3↔40=19,
    8↔40=15); `shift` is a uniform brightness shift, dHash-invariant
    by construction."""
    return [
        (seed * 37 + i * (11 + seed % 7) + (i // 3) * (seed % 13)) % 200
        + shift
        for i in range(6 * 6 * 3)
    ]


def test_image_neardup_static_cross_and_within_batch(spark, tmp_path):
    """Batch 1 registers its dHash bands; batch 2 must drop a
    brightness-shifted near-copy of a registered image AND a
    within-batch near-copy, keep genuinely new content, and accept
    undecodable payloads unhashed."""
    reg = str(tmp_path / "ireg")
    b1 = _media(
        spark,
        [(1, _ppm(6, 6, _img(3))), (2, _ppm(6, 6, _img(8)))],
    )
    h1 = multimodal.dhash_images(b1)
    a1 = ingest.image_neardup_batch_against_registry(h1, reg)
    assert {r["media_id"] for r in a1.collect()} == {1, 2}
    ingest.register_batch_image_neardup(a1, reg, batch_id=0)

    b2 = _media(
        spark,
        [
            (10, _ppm(6, 6, _img(3, shift=25))),   # near-copy of 1
            (11, _ppm(6, 6, _img(40))),            # new
            (12, _ppm(6, 6, _img(40, shift=12))),  # within-batch dup of 11
            (13, b"\x89PNGnot-decodable"),         # undecodable
        ],
    )
    h2 = multimodal.dhash_images(b2)
    a2 = ingest.image_neardup_batch_against_registry(h2, reg)
    got = {r["media_id"] for r in a2.collect()}
    assert got == {11}, got
    # undecodable payloads carry no bands, so the decision never sees them
    undec = {r["media_id"] for r in h2.filter("bands IS NULL").collect()}
    assert undec == {13}


def test_image_replayed_batch_is_idempotent(spark, tmp_path):
    """The r10-advisory replay window: a batch decided again after its
    own registry commit. The registry already holds the batch's band
    keys; without ukey self-exclusion every accepted image matches
    itself at Hamming 0 and the replay rejects it. The replay must
    recompute the identical accepted set, and committing it again must
    leave the registry keys unchanged."""
    reg = str(tmp_path / "ireg_r")
    batch = _media(
        spark,
        [
            (1, _ppm(6, 6, _img(3))),
            (2, _ppm(6, 6, _img(8))),
            (3, _ppm(6, 6, _img(8, shift=20))),  # within-batch dup of 2
            (4, b"\x89PNGnot-decodable"),        # undecodable: no bands
        ],
    )
    hashed = multimodal.dhash_images(batch)
    acc = ingest.image_neardup_batch_against_registry(hashed, reg)
    first = _ids(acc, "media_id")
    assert first == {1, 2}, first
    ingest.register_batch_image_neardup(acc, reg, batch_id=0)
    replay = ingest.image_neardup_batch_against_registry(hashed, reg)
    second = _ids(replay, "media_id")
    assert second == first, (first, second)
    ingest.register_batch_image_neardup(replay, reg, batch_id=0)
    state = upsert.read_state(spark, reg)
    assert {r["ukey"] for r in state.collect()} == {"1", "2"}


def test_image_ingest_id_col_plumbing(spark, tmp_path):
    """r10 advisory: a non-default id column must flow through
    dhash_images' fixed schema and back — decide and register both
    reference it by the caller's name."""
    reg = str(tmp_path / "ireg_id")
    rows = [(100, _ppm(6, 6, _img(3))), (101, _ppm(6, 6, _img(3, shift=9)))]
    batch = spark.createDataFrame(rows, "img_id long, blob binary")
    hashed = multimodal.dhash_images(
        batch, id_col="img_id", payload_col="blob"
    ).withColumnRenamed("media_id", "img_id")
    acc = ingest.image_neardup_batch_against_registry(
        hashed, reg, id_col="img_id"
    )
    got = _ids(acc, "img_id")
    assert got == {100}, got  # 101 is a within-batch near-dup of 100
    ingest.register_batch_image_neardup(acc, reg, batch_id=0, id_col="img_id")
    state = upsert.read_state(spark, reg)
    assert {r["ukey"] for r in state.collect()} == {"100"}


def test_neardup_pruned_probe_matches_full_state_decision(spark, tmp_path):
    """The bucket-pruned registry probe must reach the SAME accepted set
    as image_neardup_decide over the full registry state, across a
    multi-batch sequence with near-copies, within-batch copies and new
    images."""
    reg = str(tmp_path / "ireg")
    batches = [
        [(1, _img(3)), (2, _img(8))],
        [(10, _img(3, shift=25)), (11, _img(40)), (12, _img(40, shift=12))],
        [(20, _img(8, shift=5)), (21, _img(55)), (22, _img(40, shift=3))],
    ]
    for bid, rows in enumerate(batches):
        hashed = multimodal.dhash_images(
            _media(spark, [(i, _ppm(6, 6, v)) for i, v in rows])
        )
        pruned = ingest.image_neardup_batch_against_registry(hashed, reg)
        got = _ids(pruned, "media_id")
        state = upsert.read_state(spark, reg)
        reg_bands = None
        if state is not None:
            reg_bands = state.select(
                "band",
                "bucket",
                F.col("sig").alias("reg_sig"),
                F.col("ukey").alias("reg_ukey"),
            )
        full = ingest.image_neardup_decide(hashed, reg_bands)
        want = _ids(full, "media_id")
        assert got == want, f"batch {bid}: pruned={got} full={want}"
        ingest.register_batch_image_neardup(pruned, reg, batch_id=bid)


def test_neardup_probe_actually_prunes(spark, tmp_path):
    """With n_buckets large relative to the batch, a small batch's probe
    must compute a strict subset of the store's buckets."""
    reg = str(tmp_path / "ireg")
    stored = [(i, _ppm(6, 6, _img(i))) for i in range(40)]
    ingest.register_batch_image_neardup(
        multimodal.dhash_images(_media(spark, stored)),
        reg,
        batch_id=0,
        n_buckets=256,
    )

    meta = upsert.store_meta(reg)
    assert meta["bucket_cols"] == ["kind", "band", "bucket"]
    probe = multimodal.dhash_images(
        _media(spark, [(100, _ppm(6, 6, _img(41)))])
    )
    keys = probe.select(
        F.posexplode("bands").alias("band", "band_val")
    ).select(
        F.lit("iband").alias("kind"),
        "band",
        F.col("band_val").cast("long").alias("bucket"),
    )
    dirty = upsert.bucket_ids_for(
        keys, meta["bucket_cols"], meta["n_buckets"]
    )
    with open(os.path.join(reg, f"v{upsert.current_version(reg)}",
                           "manifest.json")) as f:
        total = len(json.load(f))
    assert len(dirty) <= 8 < total, (len(dirty), total)
    # and the pruned decision still drops an exact copy of a stored image
    dup = multimodal.dhash_images(_media(spark, [(200, stored[7][1])]))
    out = ingest.image_neardup_batch_against_registry(dup, reg)
    assert out.count() == 0


def test_image_decide_rejects_overwide_hamming(spark, tmp_path):
    """r10 advisory: max_hamming >= n_bands voids the pigeonhole
    exactness guarantee — it must error, not silently lose recall.
    r11 advisory: the error must be a ValueError, not a bare assert
    (asserts are stripped under python -O)."""
    hashed = multimodal.dhash_images(
        _media(spark, [(1, _ppm(6, 6, _img(3)))])
    )
    with pytest.raises(ValueError):
        ingest.image_neardup_decide(hashed, None, max_hamming=8)
    with pytest.raises(ValueError):
        ingest.image_neardup_batch_against_registry(
            hashed, str(tmp_path / "nope"), max_hamming=8
        )


def test_dhash_degenerate_payload_passes_through_undecoded(spark):
    """r10 advisory: a syntactically valid 'P3\\n0 0\\n255\\n' header
    (and a 1x1-truncation cousin) must yield decoded=False, not an
    uncaught unpack error that fails the whole Spark task."""
    batch = _media(
        spark,
        [
            (1, b"P3\n0 0\n255\n"),          # degenerate dims
            (2, b"P3\n0 5\n255\n1 2 3"),     # zero width only
            (3, _ppm(6, 6, _img(3))),         # healthy control
        ],
    )
    rows = {r["media_id"]: r for r in multimodal.dhash_images(batch).collect()}
    assert rows[1]["decoded"] is False and rows[1]["bands"] is None
    assert rows[2]["decoded"] is False and rows[2]["bands"] is None
    assert rows[3]["decoded"] is True and len(rows[3]["bands"]) == 8


def test_neardup_respects_custom_id_col(spark):
    """r13 review regression: _sigs_and_bands renamed doc_id->id_col
    BEFORE band_keys_from_sig (which hardcodes the doc_id shape), so
    EVERY near-dup entry point crashed with UNRESOLVED_COLUMN on the
    first batch for any id_col other than 'doc_id'. Drive the decision
    with id_col='event_id', with and without a registry, and pin the
    same verdicts as the default."""
    rows = [(5, NEAR), (3, BASE), (7, OTHER)]
    b = spark.createDataFrame(rows, "event_id long, text string")
    acc = ingest.neardup_select(b, None, None, id_col="event_id")
    assert _ids(acc, "event_id") == {3, 7}
    b2 = spark.createDataFrame(
        [(10, NEAR), (11, BASE)], "event_id long, text string"
    )
    a2 = ingest.neardup_select(
        b2, *_registry(acc, id_col="event_id"), id_col="event_id"
    )
    assert a2.count() == 0  # both near/exact dups of registered doc 3


def test_fully_identical_in_batch_rows_pass_once(spark):
    """r13 review: two FULLY identical rows (same id AND same text —
    a producer retry inside one micro-batch) both matched the min-id
    keep row via the semi-join and both were accepted. Exactly one
    copy must survive."""
    batch = _docs(spark, [(1, BASE), (1, BASE), (2, OTHER)])
    acc = ingest.neardup_select(batch, None, None)
    assert sorted(r["doc_id"] for r in acc.collect()) == [1, 2]


def test_compact_every_zero_means_never(spark, tmp_path):
    """compact_every=0 (a plausible 'disable' spelling) used to raise
    ZeroDivisionError inside the foreachBatch sink and kill the
    stream; it must behave as 'never' like None (r13 review)."""
    corpus = str(tmp_path / "c")
    _docs(spark, [(1, BASE)]).withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("batch_id").parquet(corpus)
    ingest._maybe_compact_corpus(spark, corpus, 0, 0)  # no raise
    ingest._maybe_compact_corpus(spark, corpus, 3, None)


def test_survivor_choice_is_shuffle_order_independent(spark):
    """r13 advisory: the within-batch window ordered by id only, so two
    rows sharing fingerprint AND id but differing elsewhere got an
    arbitrary, shuffle-order-dependent survivor — an at-least-once
    replay could commit a DIFFERENT row than the original run. The
    content-hash tie-break must pick the SAME survivor regardless of
    input row order or partitioning."""
    rows = [
        (1, "alpha beta", "src-A"),
        (1, "ALPHA   beta", "src-B"),  # same fingerprint + id, diff payload
        (2, "gamma delta", "src-C"),
    ]
    schema = "doc_id long, text string, origin string"
    survivors = []
    for perm, parts in [(rows, 1), (rows[::-1], 3), ([rows[1], rows[2], rows[0]], 2)]:
        df = spark.createDataFrame(perm, schema).repartition(parts)
        fp = df.withColumn("fingerprint", ingest.fingerprint_col("text"))
        out = ingest._within_batch_exact(fp, "doc_id")
        survivors.append(
            sorted((r["doc_id"], r["text"], r["origin"]) for r in out.collect())
        )
    assert survivors[0] == survivors[1] == survivors[2]
    assert len(survivors[0]) == 2


def test_one_row_per_key_deterministic_and_map_safe(spark):
    """one_row_per_key must (a) pick the same survivor under any input
    order/partitioning and (b) not crash on map-typed columns (Spark
    refuses xxhash64 over raw maps — they hash through to_json)."""
    rows = [
        (7, [0.1, 0.2], {"k": "v1"}),
        (7, [0.3, 0.4], {"k": "v2"}),  # same key, different payload
        (8, [0.5, 0.6], {"k": "v3"}),
    ]
    schema = "vec_id long, embedding array<double>, meta map<string,string>"
    outs = []
    for perm, parts in [(rows, 1), (rows[::-1], 4)]:
        df = spark.createDataFrame(perm, schema).repartition(parts)
        out = ingest.one_row_per_key(df, ["vec_id"])
        outs.append(
            sorted(
                (r["vec_id"], tuple(r["embedding"]), tuple(sorted(r["meta"].items())))
                for r in out.collect()
            )
        )
    assert outs[0] == outs[1]
    assert [k for k, _, _ in outs[0]] == [7, 8]
