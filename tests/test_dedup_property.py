"""Randomized exactness guarantee for the PPJoin Jaccard path.

The PPJoin rewrite (probe/index prefixes, length, positional filters) must
be output-identical to the naive all-pairs definition on ANY corpus. The
oracle tests pin two fixed corpora; here seeded random corpora — skewed
small vocabularies, duplicate docs, near-dups, tiny docs — hunt for
over-pruning at the filter boundaries. Brute force is computed in plain
Python (no second engine involved)."""

import random

from near_event_streams_spark.operators import dedup


def _random_corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(rng.randint(5, 40))]
    docs = []
    for i in range(n_docs):
        n_words = rng.randint(1, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n_words))))
    # inject exact and near duplicates (the interesting cases)
    for j in range(0, n_docs, 7):
        src = docs[rng.randrange(n_docs)][1]
        words = src.split()
        if len(words) > 3:
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((n_docs + j, " ".join(words)))
    return docs


def _bigrams(text: str) -> set[str]:
    w = text.strip().split()
    return {f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)}


def _brute_force(docs, threshold):
    shingled = [(i, _bigrams(t)) for i, t in docs]
    out = set()
    for x in range(len(shingled)):
        for y in range(x + 1, len(shingled)):
            a_id, a = shingled[x]
            b_id, b = shingled[y]
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if round(j, 6) >= threshold:
                out.add((min(a_id, b_id), max(a_id, b_id)))
    return out


def test_ppjoin_matches_brute_force_on_random_corpora(spark):
    for seed in (7, 23, 99):
        for threshold in (0.5, 0.8):
            docs = _random_corpus(seed, 40)
            df = spark.createDataFrame(docs, "doc_id long, text string")
            got = {
                (r["a_doc_id"], r["b_doc_id"])
                for r in dedup.jaccard_pairs(df, threshold).collect()
            }
            want = _brute_force(docs, threshold)
            assert got == want, (
                f"seed={seed} tau={threshold}: "
                f"missing={want - got} extra={got - want}"
            )


def _brute_force_containment(docs, threshold, min_shingles):
    shingled = [(i, _bigrams(t)) for i, t in docs]
    out = set()
    for a_id, a in shingled:
        if len(a) < min_shingles:
            continue
        for b_id, b in shingled:
            if a_id == b_id or len(b) < min_shingles:
                continue
            if round(len(a & b) / len(a), 6) >= threshold:
                out.add((a_id, b_id))
    return out


def test_containment_ppjoin_matches_brute_force_on_random_corpora(spark):
    """The asymmetric prefix/length/positional filters must be
    output-identical to the naive all-ordered-pairs definition on ANY
    corpus — same exactness contract as the Jaccard PPJoin, hunted at
    the filter boundaries with skewed random corpora plus planted
    subset docs (the containment-specific hard case: A wholly inside a
    much larger B)."""
    for seed in (11, 42):
        for threshold in (0.7, 0.9):
            docs = _random_corpus(seed, 35)
            # plant strict-subset docs: prefix slices of larger docs
            rng = random.Random(seed + 1)
            base_n = len(docs)
            for k in range(5):
                src = docs[rng.randrange(base_n)][1]
                words = src.split()
                if len(words) > 8:
                    cut = rng.randint(6, len(words) - 1)
                    docs.append((1000 + base_n + k, " ".join(words[:cut])))
            df = spark.createDataFrame(docs, "doc_id long, text string")
            got = {
                (r["a_doc_id"], r["b_doc_id"])
                for r in dedup.containment_pairs(
                    df, threshold=threshold, min_shingles=3
                ).collect()
            }
            want = _brute_force_containment(docs, threshold, 3)
            assert got == want, (
                f"seed={seed} t={threshold}: "
                f"missing={want - got} extra={got - want}"
            )


def test_containment_lsh_full_containment_is_deterministic(spark):
    """C(A→B) = 1 pairs (every shingle of A in B) are caught
    DETERMINISTICALLY by the one-sided estimator — each probe slot of A
    is a shingle of A ⊆ B, so the slot's (j, hash) row exists on B's
    index side. Planted strict-subset docs must ALL be recovered, on
    every seed, and every emitted pair must be exactly correct (verify
    is exact, so approximation can never inflate precision)."""
    for seed in (11, 42, 77):
        docs = _random_corpus(seed, 35)
        rng = random.Random(seed + 1)
        base_n = len(docs)
        planted = []
        for k in range(5):
            src_id, src = docs[rng.randrange(base_n)]
            words = src.split()
            if len(words) > 8:
                cut = rng.randint(6, len(words) - 1)
                sub_id = 1000 + base_n + k
                docs.append((sub_id, " ".join(words[:cut])))
                planted.append(sub_id)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["a_doc_id"], r["b_doc_id"])
            for r in dedup.containment_lsh_pairs(
                df, threshold=0.9, min_shingles=3
            ).collect()
        }
        want = _brute_force_containment(docs, threshold=0.9, min_shingles=3)
        # precision is exact by construction (verify recomputes C)
        assert got <= want, f"seed={seed}: false pairs {got - want}"
        # full-containment subset of ground truth is recovered exactly
        full = {
            (a, b)
            for (a, b) in want
            if _bigrams(dict(docs)[a]) <= _bigrams(dict(docs)[b])
        }
        assert full <= got, f"seed={seed}: missed C=1 pairs {full - got}"
        # Per-pair miss probability is P(Bin(8, C_pool) < 5) ~ 5e-3 at
        # C_pool=0.9 (up to ~0.056 at the 0.8 pool-degradation worst
        # case) — small enough, with these FIXED seeds and a handful of
        # planted pairs, that the observed result is deterministic full
        # recall; assert it outright so a slot-independence regression
        # (e.g. reusing one salt) fails loudly. If a future seed change
        # ever trips this, re-derive the expectation before relaxing.
        assert got == want, f"seed={seed}: missing={want - got}"


def test_containment_lsh_shuffle_join_branch_matches_broadcast(spark):
    """The >max_broadcast_docs code path (plain shuffle candidate join +
    merge-join verify) must be output-identical to the broadcast path —
    the branch a 1B-doc corpus takes never runs in the oracle gate, so
    pin it here against both the broadcast variant and brute force."""
    docs = _random_corpus(55, 40)
    rng = random.Random(56)
    base_n = len(docs)
    for k in range(4):
        src = docs[rng.randrange(base_n)][1]
        words = src.split()
        if len(words) > 8:
            docs.append((2000 + k, " ".join(words[: rng.randint(6, len(words) - 1)])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(threshold=0.9, min_shingles=3)
    bcast = {
        (r["a_doc_id"], r["b_doc_id"], r["containment"])
        for r in dedup.containment_lsh_pairs(
            df, broadcast_sets=True, **kw
        ).collect()
    }
    shuffled = {
        (r["a_doc_id"], r["b_doc_id"], r["containment"])
        for r in dedup.containment_lsh_pairs(
            df, broadcast_sets=False, **kw
        ).collect()
    }
    assert bcast == shuffled
    want = _brute_force_containment(docs, threshold=0.9, min_shingles=3)
    assert {(a, b) for a, b, _ in shuffled} == want


def test_recall_bound_math():
    """Pin the m-of-k binomial recall numbers quoted in
    ``dedup.containment_lsh_pairs``'s docstring (and in
    ``plans/llm_ops.py``'s gate docstring): a true pair at pool
    containment C survives candidate generation iff >= m of k
    independent probe slots land in the superset, so the miss
    probability is P(Bin(k, C) < m). Pure Python — no Spark — so the
    documented claims can never silently drift from the design again
    (the round-8 verdict found three mutually inconsistent figures)."""
    from math import comb

    def miss(k: int, c: float, m: int) -> float:
        return sum(comb(k, i) * c**i * (1 - c) ** (k - i) for i in range(m))

    k, m = 8, 5  # the containment_lsh_pairs defaults
    # docstring: miss ~ 5.0e-3 at C_pool = tau = 0.9 (survive ~ 0.995)
    assert abs(miss(k, 0.9, m) - 5.0e-3) < 5e-4
    assert 1 - miss(k, 0.9, m) > 0.994
    # docstring: ~ 0.056 at the C_pool = 0.8 worst-case degradation
    # (survive >= 0.94)
    assert abs(miss(k, 0.8, m) - 0.056) < 1e-3
    assert 1 - miss(k, 0.8, m) >= 0.94
    # C = 1 (full containment) is deterministic: every slot collides
    assert miss(k, 1.0, m) == 0.0
    # incidental overlap (c ~ 0.05) passes the vote at ~1.5e-5 — the
    # ~150x candidate-cut claim's other side
    assert 1 - miss(k, 0.05, m) < 2e-5


# ---------------------------------------------------------------------------
# dHash image near-dedup: randomized exactness + invariance
# ---------------------------------------------------------------------------


def _py_dhash(w, h, vals, grid_w=8, grid_h=8):
    """Pure-Python reference dHash (no Spark involved) over raw RGB
    samples — the independent second implementation the randomized
    check compares the operator against."""
    bands = []
    for gy in range(grid_h):
        sy = gy * h // grid_h
        row = []
        for gx in range(grid_w + 1):
            sx = gx * w // (grid_w + 1)
            base = (sy * w + sx) * 3
            r, g, b = vals[base : base + 3]
            row.append((299 * r + 587 * g + 114 * b) // 1000)
        byte = 0
        for gx in range(grid_w):
            if row[gx + 1] > row[gx]:
                byte |= 1 << gx
        bands.append(byte)
    return bands


def _random_images(seed: int, n: int):
    """Random small PPMs: random dims, random pixels, plus injected
    brightness-shifted twins (the dHash-invariant near-dup class)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        w, h = rng.randint(3, 12), rng.randint(3, 12)
        vals = [rng.randrange(200) for _ in range(w * h * 3)]
        out.append((i, w, h, vals))
    for j in range(0, n, 3):  # shifted twin of a random base image
        base = out[rng.randrange(n)]
        shift = rng.randint(1, 55)
        out.append(
            (n + j, base[1], base[2], [v + shift for v in base[3]])
        )
    return out


def test_dhash_matches_pure_python_and_banding_exact_random(spark):
    """On seeded random corpora: (a) the Spark dHash byte-matches the
    pure-Python reference for every image; (b) the banded pair join is
    output-identical to brute-force Hamming<=6 over those hashes —
    the pigeonhole completeness argument, hunted at random dims/pixels
    where grid sampling and band boundaries could be off by one."""
    from near_event_streams_spark.operators import multimodal

    for seed in (7, 23):
        imgs = _random_images(seed, 24)
        rows = [
            (
                i,
                (
                    f"P3\n{w} {h}\n255\n"
                    + " ".join(str(v) for v in vals)
                ).encode(),
            )
            for i, w, h, vals in imgs
        ]
        media = spark.createDataFrame(
            rows, "media_id long, payload binary"
        )
        hashed = multimodal.dhash_images(media)
        got = {r["media_id"]: list(r["bands"]) for r in hashed.collect()}
        want = {i: _py_dhash(w, h, vals) for i, w, h, vals in imgs}
        assert got == want, seed

        pairs = {
            (r["a_id"], r["b_id"], r["hamming"])
            for r in multimodal.neardup_image_pairs(
                hashed, max_hamming=6
            ).collect()
        }
        brute = set()
        ids = sorted(want)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                ham = sum(
                    bin(p ^ q).count("1")
                    for p, q in zip(want[a], want[b])
                )
                if ham <= 6:
                    brute.add((a, b, ham))
        assert pairs == brute, (seed, len(pairs), len(brute))
        # the injected shifted twins really exercise the invariance
        assert any(h == 0 for _, _, h in brute), seed


def test_containment_max_df_hot_shingle_cap(spark):
    """The r11 hot-shingle headroom knob (`containment_pairs(max_df=)`,
    the text-side twin of `neardup_image_pairs(max_bucket=)`): dropping
    over-ceiling shingles from candidate generation must (a) keep every
    pair witnessed by at least one sub-ceiling probe-prefix shingle,
    (b) lose EXACTLY the pairs whose contained side has no sub-ceiling
    witnesses (the documented recall trade-off), and (c) never add a
    pair (precision untouched — verification still runs on full sets).
    Fixture: 20 filler docs all share one hot 6-word sentence (its 5
    bigrams reach df=22 > the cap of 10); doc 100 is a rare-shingle
    excerpt of doc 101; doc 200 is the bare hot sentence, contained in
    every filler and in doc 201."""
    hot = "h0 h1 h2 h3 h4 h5"
    rows = [(int(i), f"f{i}a f{i}b f{i}c " + hot) for i in range(20)]
    rows += [
        (100, "a1 a2 a3 a4 a5 a6"),
        (101, "a1 a2 a3 a4 a5 a6 x1 x2"),
        (200, hot),
        (201, "d1 d2 " + hot + " d3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in dedup.containment_pairs(
            df, threshold=0.9, min_shingles=5
        ).collect()
    }
    capped = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in dedup.containment_pairs(
            df, threshold=0.9, min_shingles=5, max_df=10
        ).collect()
    }
    spark.catalog.clearCache()

    want = _brute_force_containment(
        [(i, t) for i, t in rows], threshold=0.9, min_shingles=5
    )
    assert exact == want, f"exact path diverged: {exact ^ want}"
    # the rare-witnessed pair exists and survives the cap
    assert (100, 101) in exact and (100, 101) in capped
    # doc 200's shingles are ALL hot -> every 200->* pair is the
    # documented loss; nothing else may disappear, nothing may appear
    assert exact - capped == {p for p in exact if p[0] == 200}
    assert capped <= exact


def test_ppjoin_rational_threshold_does_not_over_prune(spark):
    """r13 review: num = round(tau*10000) could exceed tau (2/3 ->
    0.6667), tightening the integer length/prefix bounds past the true
    threshold — a J = 2/3 pair passed the exact verify but was pruned
    at candidate generation on every collision row. num now FLOORS.
    Minimal witness: A ⊃ B with |A∩B|=2, |A|=3, |B|=2 shingles."""
    docs = [
        (1, "w1 w2 w3 w4"),  # bigrams {w1 w2, w2 w3, w3 w4} — 3
        (2, "w1 w2 w3"),     # bigrams {w1 w2, w2 w3} — 2; J = 2/3
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tau = 2 / 3
    got = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in dedup.jaccard_pairs(df, tau).collect()
    }
    assert got == {(1, 2)}, got
    # and the random sweep at the repeating threshold
    for seed in (7, 23):
        corpus = _random_corpus(seed, 30)
        cdf = spark.createDataFrame(corpus, "doc_id long, text string")
        have = {
            (r["a_doc_id"], r["b_doc_id"])
            for r in dedup.jaccard_pairs(cdf, tau).collect()
        }
        want = _brute_force(corpus, tau)
        assert have == want, (seed, want - have, have - want)


def test_banding_parameter_guards(spark):
    """r13 review: non-divisible banding silently ignored trailing
    hash slots (recall below the designed S-curve)."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    sigs = dedup.minhash_sig_array(df, 16)
    with pytest.raises(ValueError, match="divisible"):
        dedup.band_keys_from_sig(sigs, 16, 5)
    with pytest.raises(ValueError, match="band_size"):
        dedup.band_keys_from_sig(sigs, 16, 20)
    from pyspark.sql import functions as F

    ids = (
        dedup.shingle_id_sets(df)
        .select("doc_id", F.explode("sh").alias("sid"))
    )
    wide = dedup.minhash_signatures(ids, 16)
    with pytest.raises(ValueError, match="divisible"):
        dedup.lsh_candidate_pairs(wide, 16, 5)


def test_remove_spans_null_text_is_empty_doc(spark):
    """r13 review: a NULL text row produced sequence(0,-1) phantom
    spans (non-ANSI) or vanished from the output entirely (ANSI). It
    must behave exactly like an empty-text doc: present, clean_text
    '', one '' span, nothing removed beyond span dedup."""
    df = spark.createDataFrame(
        [(1, "x y z"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(df, span_tokens=4).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1]["clean_text"] == "x y z"
    # null and genuinely-empty docs behave identically
    for d in (2, 3):
        assert rows[d]["n_spans"] == 1
        assert rows[d]["clean_text"] in ("",)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ansi_rows = dedup.remove_duplicate_spans(df, span_tokens=4).count()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert ansi_rows == 3
