"""LLM-pipeline operator tests: oracle compare for gated queries; semantic
checks (recall vs exact baseline, determinism) for the hash-based ones."""

import pytest

from near_event_streams_spark.operators import similarity
from near_event_streams_spark.plans.llm_ops import (
    ORACLE_SQL,
    QUERIES,
    dedup_minhash_lsh_pairs,
)
from near_event_streams_spark.sources.tables import load_table
from tests.conftest import SF_DIR
from tests.oracle import compare, duck_connection


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_llm_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    compare(df, duck, ORACLE_SQL[name], name=name)


def test_minhash_lsh_finds_exact_jaccard_pairs(spark):
    """LSH candidates verified at tau=0.8 must equal the exact-join answer:
    16 hashes / 4 bands at s=0.8 -> P(candidate) = 1-(1-0.8^4)^4 ~ 0.93
    per band set; with verify the only risk is a false negative, so assert
    superset-of-recall >= 0.9 on the planted near-dups."""
    exact = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in QUERIES["dedup_ngram_jaccard_docs"](spark, SF_DIR).collect()
    }
    lsh = {
        (r["a_doc_id"], r["b_doc_id"])
        for r in dedup_minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert lsh <= exact, "LSH+verify produced a pair the exact join did not"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} too low"


def _ann_inputs(spark):
    """(queries, corpus): the first 10 embeddings against all of them,
    the inputs of the registry's ANN queries."""
    emb = load_table(spark, SF_DIR, "embeddings")
    return emb.filter(emb.vec_id < 10), emb


def test_ann_lsh_recall_against_brute_force(spark):
    exact = {
        (r["query_id"], r["cand_id"])
        for r in QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    queries, emb = _ann_inputs(spark)
    approx = {
        (r["query_id"], r["cand_id"])
        for r in similarity.lsh_topk(queries, emb, dim=64, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH ANN recall {recall} too low (multiprobe=1)"


def test_connected_components_transitive_chain(spark):
    """A~B~C without an explicit A~C edge must land in ONE component (the
    whole point of the closure vs the raw pair list); disjoint pairs keep
    separate components; labels are the component-min node id."""
    from near_event_streams_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "a_doc_id long, b_doc_id long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_multimodal_features_plumbing(spark):
    rows = QUERIES["multimodal_features"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:10]:
        assert 1 <= r["width"] <= 64
        assert 1 <= r["height"] <= 48
        assert r["checksum"] >= 0
        assert r["n_bytes"] > 0


def test_rolling_fingerprint_deterministic(spark):
    a = {
        r["doc_id"]: r["fingerprint"]
        for r in QUERIES["text_fingerprint_rolling"](spark, SF_DIR).collect()
    }
    b = {
        r["doc_id"]: r["fingerprint"]
        for r in QUERIES["text_fingerprint_rolling"](spark, SF_DIR).collect()
    }
    assert a == b
    assert all(0 <= v < 1_000_000_007 for v in a.values())


def test_ann_ivf_recall_against_brute_force(spark):
    """IVF with nprobe=8/16 should recover most exact neighbors (cluster
    structure is kinder to recall than 4-bit LSH bands)."""
    exact = {
        (r["query_id"], r["cand_id"])
        for r in QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    queries, emb = _ann_inputs(spark)
    approx = {
        (r["query_id"], r["cand_id"])
        for r in similarity.ivf_topk(
            queries, emb, k=5, n_clusters=16, nprobe=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF ANN recall {recall} too low"


def test_ann_ivf_rank_shape(spark):
    queries, emb = _ann_inputs(spark)
    out = similarity.ivf_topk(
        queries, emb, k=5, n_clusters=16, nprobe=8
    ).collect()
    per_query = {}
    for r in out:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_query.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_ann_ivfpq_recall_against_brute_force(spark):
    """IVF-PQ (8-byte codes + exact refine) must recover >=0.8 of the
    exact top-5 pairs; measured 0.98 at sf0.001 / 0.94 at sf0.01."""
    from near_event_streams_spark.plans.llm_ops import ann_ivfpq_topk_detail

    exact = {
        (r["query_id"], r["cand_id"])
        for r in QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in ann_ivfpq_topk_detail(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF-PQ ANN recall {recall} too low"


def test_ann_ivfpq_cosines_exact_and_ranks_contiguous(spark):
    """The refine stage re-scores on full vectors, so every emitted
    cosine must BIT-match the brute-force value for the same pair (PQ
    approximation may drop pairs, never distort scores); ranks are a
    contiguous 1..n per query."""
    from near_event_streams_spark.plans.llm_ops import ann_ivfpq_topk_detail

    brute = {
        (r["query_id"], r["cand_id"]): r["cos_sim"]
        for r in QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    out = ann_ivfpq_topk_detail(spark, SF_DIR).collect()
    per_query = {}
    for r in out:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
        key = (r["query_id"], r["cand_id"])
        if key in brute:
            assert r["cos_sim"] == brute[key], (key, r["cos_sim"], brute[key])
    for q, ranks in per_query.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_ivfpq_index_layout_and_determinism(spark):
    """PQ rows carry exactly m code bytes + a positive stored norm, and
    the seeded build is run-to-run deterministic (no RNG in the
    distributed path; codebooks train on a vec_id-ordered sample)."""
    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    enc1, _, books1 = similarity.ivfpq_index(emb, n_clusters=8, m=8)
    rows1 = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
             for r in enc1.collect()}
    assert rows1, "empty index"
    for vid, (_, codes, norm) in rows1.items():
        assert len(codes) == 8, (vid, len(codes))
        assert norm > 0, (vid, norm)
    enc2, _, books2 = similarity.ivfpq_index(emb, n_clusters=8, m=8)
    rows2 = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
             for r in enc2.collect()}
    assert rows1 == rows2
    assert (books1 == books2).all()


def test_residual_sample_slice_matches_distributed_collection(spark):
    """r17: the PQ residual training sample sliced from the coarse-fit
    sample must be BIT-IDENTICAL to the old distributed
    ``orderBy(_sample_order).limit(train_sample)`` collection, for both
    a train budget below the coarse sample's length and one above the
    corpus size (exhausted-corpus degenerate case)."""
    import numpy as np

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    assigned, cents, coarse_xs = similarity._ivf_index_with_sample(
        emb, 8, 42, "vec_id", "embedding", fit_sample=32768
    )
    cmat = np.asarray(cents, dtype=np.float64)
    for train_sample in (64, 5_000_000):
        sliced = similarity._residual_sample(
            assigned, cmat, 42, train_sample, coarse_xs,
            coarse_budget=32768,
        )
        distributed = similarity._residual_sample(
            assigned, cmat, 42, train_sample, coarse_xs=None
        )
        assert sliced.shape == distributed.shape, train_sample
        assert (sliced == distributed).all(), train_sample


def test_opq_rotation_orthogonal_and_recall(spark):
    """OPQ: the learned rotation must be orthogonal (R·Rᵀ = I — it's a
    rotation, not a projection: norms/cosines survive), training must
    be deterministic (seeded sample, fixed alternation), and recall@5
    must meet the same 0.8 bar as plain PQ at the identical byte
    budget (measured 0.98 sf0.001 / 0.94 sf0.01 — equal to PQ on these
    near-isotropic synthetic embeddings, where rotation can't help;
    the lift appears on correlated real manifolds)."""
    import numpy as np

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    _, _, rot1, books1 = similarity.opq_index(emb, n_clusters=8, m=8)
    assert np.allclose(rot1 @ rot1.T, np.eye(rot1.shape[0]), atol=1e-9)
    _, _, rot2, books2 = similarity.opq_index(emb, n_clusters=8, m=8)
    assert (rot1 == rot2).all() and (books1 == books2).all()

    queries = emb.filter(emb.vec_id < 10)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.brute_force_topk(queries, emb, k=5).collect()
    }
    got = {
        (r["query_id"], r["cand_id"])
        for r in similarity.opq_topk(
            queries, emb, k=5, n_clusters=16, nprobe=12, m=8, refine=4
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"OPQ recall {recall} too low"


def test_ivfpq_persist_roundtrip(spark, tmp_path):
    """ivfpq_write → ivfpq_read must be lossless: identical PQ rows
    (codes/norms/cluster), identical centroids+codebooks, and a probe
    over the read-back index (probe-only, no rebuild) reproducing the
    fresh-build top-k exactly. Codes land hive-partitioned by coarse
    cluster — the layout that turns probe cell selection into parquet
    partition pruning."""
    import os

    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "pqidx")
    enc, cents, books = similarity.ivfpq_index(emb, n_clusters=8, m=8)
    similarity.ivfpq_write(enc, cents, books, path)

    # hive partitioning by cluster on disk
    parts = [d for d in os.listdir(path + "/codes")
             if d.startswith("cluster=")]
    assert len(parts) > 1, parts

    enc2, cents2, books2 = similarity.ivfpq_read(spark, path)
    assert cents2 == [[float(x) for x in c] for c in cents]
    assert (books2 == books).all()
    rows1 = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
             for r in enc.collect()}
    rows2 = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
             for r in enc2.collect()}
    assert rows1 == rows2

    queries = emb.filter(emb.vec_id < 5)
    fresh = similarity.ivfpq_topk(
        queries, emb, k=5, n_clusters=8, m=8, nprobe=4, refine=4
    )
    pers = similarity.ivfpq_topk(
        queries, emb, k=5, nprobe=4, refine=4, index=(enc2, cents2, books2)
    )
    f = sorted(tuple(r) for r in fresh.collect())
    p = sorted(tuple(r) for r in pers.collect())
    assert f == p and len(f) == 25


def _ppm_bytes(w, h, vals):
    return (f"P3\n{w} {h}\n255\n" + " ".join(str(v) for v in vals)).encode()


def test_dhash_brightness_invariance_and_undecodable(spark):
    """dHash must be identical under a uniform brightness shift (only
    luma DIFFERENCES feed the bits) and must pass undecodable payloads
    through with decoded=False / NULL bands."""
    from near_event_streams_spark.operators import multimodal

    base = [(i * 7 + (i % 5) * 3) % 200 for i in range(6 * 6 * 3)]
    shifted = [v + 40 for v in base]
    rows = [
        (1, _ppm_bytes(6, 6, base)),
        (2, _ppm_bytes(6, 6, shifted)),
        (3, b"\xff\xd8\xff\xe0not-a-ppm"),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.dhash_images(media).collect()}
    assert out[1]["decoded"] and out[2]["decoded"]
    assert out[1]["bands"] == out[2]["bands"]
    assert not out[3]["decoded"] and out[3]["bands"] is None


def test_neardup_image_pairs_banding_complete(spark):
    """The band-bucket join must recover EXACTLY the brute-force
    Hamming<=6 pair set (pigeonhole: <=7 differing bits over 8 one-byte
    bands leave at least one band equal) — recall 1.0 by construction,
    and no false pairs survive the verify."""
    from near_event_streams_spark.operators import multimodal

    rows = []
    for did in range(40):
        g = did % 8
        vals = [
            ((g * 37 + i * 11) % 240
             + (12 if (did * 31 + i * 17) % 97 == 0 else 0)
             + did % 3)
            for i in range(7 * 6 * 3)
        ]
        rows.append((did, _ppm_bytes(7, 6, vals)))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashed = multimodal.dhash_images(media)
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in multimodal.neardup_image_pairs(
            hashed, max_hamming=6, n_bands=8
        ).collect()
    }
    bands = {r["media_id"]: r["bands"] for r in hashed.collect()}
    want = set()
    for a in sorted(bands):
        for b in sorted(bands):
            if a < b:
                ham = sum(
                    bin(x ^ y).count("1")
                    for x, y in zip(bands[a], bands[b])
                )
                if ham <= 6:
                    want.add((a, b, ham))
    assert got == want and want, (len(got), len(want))


def test_neardup_image_pairs_saturated_bucket_drop(spark):
    """max_bucket: flat images all hash to the all-zero dHash and
    saturate one bucket per band; with the knob set below their count
    their candidate pairs are dropped (bounded bucket work), while a
    structured near-dup pair in small buckets still comes through."""
    from near_event_streams_spark.operators import multimodal

    rows = []
    # 12 flat (all-128) images -> identical all-zero dHash bands
    for i in range(12):
        rows.append((i, _ppm_bytes(6, 6, [128] * (6 * 6 * 3))))
    # 2 structured near-identical images (brightness shift)
    base = [(i * 7 + (i % 5) * 3) % 200 for i in range(6 * 6 * 3)]
    rows.append((100, _ppm_bytes(6, 6, base)))
    rows.append((101, _ppm_bytes(6, 6, [v + 20 for v in base])))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashed = multimodal.dhash_images(media)

    exact = multimodal.neardup_image_pairs(hashed, max_hamming=6)
    got_exact = {(r["a_id"], r["b_id"]) for r in exact.collect()}
    assert (100, 101) in got_exact
    assert sum(1 for a, b in got_exact if a < 100 and b < 100) == 66

    capped = multimodal.neardup_image_pairs(
        hashed, max_hamming=6, max_bucket=10
    )
    got_capped = {(r["a_id"], r["b_id"]) for r in capped.collect()}
    assert got_capped == {(100, 101)}, got_capped


def test_ivfpq_append_preserves_and_extends(spark, tmp_path):
    """ivfpq_append: appended rows are encoded with the EXISTING
    centroids/codebooks (byte-identical to encoding them via
    ivfpq_encode directly), existing rows survive untouched, and the
    read-back index holds exactly |old|+|new| rows."""
    from near_event_streams_spark.operators import similarity
    from near_event_streams_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.filter(emb.vec_id % 2 == 0)
    new = emb.filter(emb.vec_id % 2 == 1)
    path = str(tmp_path / "pqidx")
    enc, cents, books = similarity.ivfpq_index(old, n_clusters=8, m=8)
    similarity.ivfpq_write(enc, cents, books, path)
    similarity.ivfpq_append(spark, path, new)
    back, cents2, books2 = similarity.ivfpq_read(spark, path)

    rows_old = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
                for r in enc.collect()}
    rows_back = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
                 for r in back.collect()}
    assert len(rows_back) == old.count() + new.count()
    for vid, row in rows_old.items():
        assert rows_back[vid] == row, vid
    direct = {r["vec_id"]: (r["cluster"], bytes(r["codes"]), r["vec_norm"])
              for r in similarity.ivfpq_encode(new, cents2, books2).collect()}
    for vid, row in direct.items():
        assert rows_back[vid] == row, vid


def test_chunk_documents_edges(spark):
    """Chunk arithmetic at the boundaries: short doc -> 1 chunk; exact
    multiple -> no empty trailing chunk; overlap stitches correctly."""
    from near_event_streams_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                          # shorter than chunk_size
            (2, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_size=6, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1
    assert by_doc[1][0]["chunk_text"] == "a b c"
    assert by_doc[1][0]["n_tokens"] == 3
    # 10 tokens, size 6, step 4 -> chunks at 0..5, 4..9 -> 2 chunks
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert len(c2) == 2
    assert c2[0]["chunk_text"].split()[-2:] == c2[1]["chunk_text"].split()[:2]
    assert c2[1]["n_tokens"] == 6


def _make_bmp(width, height, pixel_fn):
    """Build a real uncompressed 24-bit BMP (bottom-up rows, 4-byte row
    padding) — the format decode_bmp parses."""
    import struct

    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    raster = bytearray()
    for r in range(height):
        for c in range(width):
            b, g, rr = pixel_fn(r, c)
            raster += bytes((b, g, rr))
        raster += b"\x00" * (stride - row_bytes)
    pixel_offset = 14 + 40
    size = pixel_offset + len(raster)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster), 2835,
        2835, 0, 0,
    )
    return header + info + bytes(raster)


def test_decode_bmp_real_bytes():
    from near_event_streams_spark.operators import multimodal

    payload = _make_bmp(5, 3, lambda r, c: (10, 20, 30))
    w, h, mean = multimodal.decode_bmp(payload)
    assert (w, h) == (5, 3)
    assert mean == 20.0  # (10+20+30)/3 regardless of padding
    # padding bytes must be excluded from the mean (width 5 -> 1-byte pad)
    assert (5 * 3 + 3) & ~3 != 5 * 3


def test_decode_ppm_p6_and_p3():
    from near_event_streams_spark.operators import multimodal

    vals = [(i * 5) % 256 for i in range(2 * 2 * 3)]
    p6 = b"P6\n# a comment\n2 2\n255\n" + bytes(vals)
    p3 = ("P3\n2 2\n255\n" + " ".join(str(v) for v in vals)).encode()
    expected = round(sum(vals) / len(vals), 6)
    assert multimodal.decode_ppm(p6) == (2, 2, expected)
    assert multimodal.decode_ppm(p3) == (2, 2, expected)


def test_decode_image_fallback_contract():
    from near_event_streams_spark.operators import multimodal

    # undecodable -> ValueError, callers fall back to byte stats
    import pytest

    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG....not-decodable-here")
    w, h, checksum = multimodal.byte_stat_features(b"abc")
    assert (w, h) == (3 % 64 + 1, 3 % 48 + 1)
    assert checksum == ((97 * 131 + 98) * 131 + 99) % 1_000_000_007


def test_containment_catches_superset_dup_jaccard_misses(spark):
    """A 10-word excerpt inside a 200-word doc: containment flags the
    (excerpt → superset) direction at 1.0 while exact Jaccard sits far
    below any usable threshold — the dup class this operator exists
    for. The unrelated doc pairs with nothing."""
    from near_event_streams_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    excerpt = " ".join(f"tok{i}" for i in range(10))
    superset = (
        " ".join(f"pad{i}" for i in range(95))
        + " " + excerpt + " "
        + " ".join(f"pad{i}" for i in range(95, 190))
    )
    other = " ".join(f"zzz{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, excerpt), (2, superset), (3, other)],
        "doc_id long, text string",
    )
    got = {
        (r["a_doc_id"], r["b_doc_id"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert got == {(1, 2): 1.0}, got
    jac = jaccard_pairs(docs, threshold=0.2).collect()
    assert jac == [], jac  # Jaccard ~ 9/200 — invisible to it


def test_kmeans_fixedpoint_separates_planted_clusters(spark):
    """Two planted blobs + k=2 deterministic init: after 3 supersteps
    every vector sits with its blob regardless of init happening to
    pick both seeds from blob A (the update step must pull a centroid
    across). Exact integer arithmetic means zero tolerance needed."""
    from near_event_streams_spark.operators.similarity import (
        kmeans_lloyd_fixedpoint,
    )

    dim = 4
    rows = []
    for i in range(10):  # blob A around 0.1
        rows.append((i, [0.1 + (i % 3) * 0.001] * dim))
    for i in range(10, 20):  # blob B around 0.9
        rows.append((i, [0.9 - (i % 3) * 0.001] * dim))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = kmeans_lloyd_fixedpoint(df, k=2, iters=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
    blobs = sorted(frozenset(v) for v in by_cluster.values())
    assert blobs == [
        frozenset(range(10)),
        frozenset(range(10, 20)),
    ], by_cluster
    assert all(r["dist_units"] >= 0 for r in out)


def test_extract_features_decodes_real_rasters(spark):
    """extract_features must REALLY decode BMP/PPM (true dimensions +
    pixel mean, decoded=True) and fall back to byte stats for
    undecodable payloads (decoded=False, NULL mean)."""
    from near_event_streams_spark.operators import multimodal

    bmp = _make_bmp(7, 4, lambda r, c: ((r * 7 + c) % 256,) * 3)
    vals = [(i * 11) % 256 for i in range(3 * 2 * 3)]
    ppm = b"P6\n3 2\n255\n" + bytes(vals)
    blob = b"\x01\x02\x03opaque"
    media = spark.createDataFrame(
        [
            (1, "image/bmp", bytearray(bmp), len(bmp)),
            (2, "image/x-portable-pixmap", bytearray(ppm), len(ppm)),
            (3, "application/octet-stream", bytearray(blob), len(blob)),
        ],
        "media_id long, media_type string, payload binary, n_bytes long",
    )
    feats = {
        r["media_type"]: r
        for r in multimodal.extract_features(media).collect()
    }
    b = feats["image/bmp"]
    assert (b["width"], b["height"], b["decoded"]) == (7, 4, True)
    exp_bmp = round(
        sum((r * 7 + c) % 256 for r in range(4) for c in range(7) for _ in range(3))
        / (7 * 4 * 3), 6,
    )
    assert abs(b["mean_pixel"] - exp_bmp) < 1e-9
    assert b["checksum"] is None
    p = feats["image/x-portable-pixmap"]
    assert (p["width"], p["height"], p["decoded"]) == (3, 2, True)
    assert abs(p["mean_pixel"] - round(sum(vals) / len(vals), 6)) < 1e-9
    o = feats["application/octet-stream"]
    assert o["decoded"] is False
    assert o["mean_pixel"] is None and o["checksum"] is not None


def test_bm25_rank_orders_by_term_density(spark):
    """Docs matching more query terms with higher tf must outrank docs
    with fewer; ranks are dense from 1 and scores non-increasing."""
    rows = QUERIES["text_bm25_rank"](spark, SF_DIR).collect()
    assert rows, "no docs matched the query terms"
    ranks = [r["rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["bm25"] > 0 and r["n_terms_matched"] >= 1 for r in rows)


def test_substring_spans_flag_planted_duplicates(spark):
    """The synthetic corpus plants near-duplicate documents; their
    8-gram spans must show up as duplicated, and fractions stay in
    [0, 1] with exact zero for short docs."""
    rows = QUERIES["dedup_substring_spans"](spark, SF_DIR).collect()
    assert len(rows) == 500
    fr = [r["dup_fraction"] for r in rows]
    assert all(0.0 <= f <= 1.0 for f in fr)
    assert any(f >= 0.9 for f in fr), "planted near-dups not flagged"
    for r in rows:
        assert r["n_dup_grams"] <= r["n_grams"]


def test_lm_logprob_scores_corpus_like_text_higher(spark):
    """Corpus-trained bigram LM: every avg log-prob is negative, and a
    doc made of common corpus words must outscore one that would be
    gibberish under the model (checked via the spread being real)."""
    rows = QUERIES["text_lm_logprob"](spark, SF_DIR).collect()
    assert len(rows) == 500
    vals = [r["avg_logprob"] for r in rows]
    assert all(v < 0 for v in vals)
    assert max(vals) - min(vals) > 0.05, "LM produced a flat score"
    assert all(r["n_bigrams"] > 0 for r in rows)


def test_cms_estimates_never_undercount(spark):
    """CMS invariants on a controlled stream: estimates are exact for a
    collision-free load factor and never undercount under collisions."""
    from near_event_streams_spark.operators import sketch as cms

    rows = [(t,) for t in ["a"] * 5 + ["b"] * 3 + ["c"] * 2]
    toks = spark.createDataFrame(rows, "term string")
    table = cms.cms_build(toks, d=4, w=64)
    est = {
        r["term"]: r["est_count"]
        for r in cms.cms_estimate(
            table, toks.select("term").distinct(), d=4, w=64
        ).collect()
    }
    # 3 distinct terms in a 4x64 table: collision probability ~ (3/64)^4
    assert est == {"a": 5, "b": 3, "c": 2}
    # a term the sketch never saw still estimates >= 0 (cell collisions
    # may inflate it, never deflate)
    unseen = spark.createDataFrame([("zz",)], "term string")
    got = cms.cms_estimate(table, unseen, d=4, w=64).collect()[0]
    assert got["est_count"] >= 0


def test_cms_driver_query_gate(spark):
    rows = QUERIES["sketch_cms_heavy_hitters"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r["est_ge_true_ok"] and r["est_within_ok"] for r in rows)


def test_kl_source_drift_ranks_planted_shift(spark):
    """A source whose token distribution diverges from the corpus must
    score a strictly higher KL than sources drawn from the corpus
    mixture; a near-corpus source scores near zero."""
    from pyspark.sql import functions as F

    from near_event_streams_spark.operators.text import kl_source_drift

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = (
        [(i, "bulk", base) for i in range(40)]
        # drifted: disjoint vocabulary (same group size as "near" so the
        # add-one smoothing penalty is identical and only content drives
        # the difference)
        + [
            (100 + i, "drift", "zzz yyy xxx www vvv uuu qqq ppp")
            for i in range(40)
        ]
        # near-corpus: same words, same size as bulk -> identical KL
        + [(200 + i, "near", base) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["source"]: r["kl_divergence"]
        for r in kl_source_drift(df, vocab_size=32).collect()
    }
    assert out["drift"] > out["near"] and out["drift"] > out["bulk"]
    assert out["near"] == out["bulk"]
    assert out["drift"] > 0.5


def test_bpe_learns_planted_merge_sequence(spark):
    """Hand-computed BPE on a planted corpus: pair counts weighted by
    word frequency, greedy left-to-right application, lexicographic
    tie-breaks."""
    from near_event_streams_spark.operators.text import bpe_learn_merges

    docs = spark.createDataFrame(
        [(0, "aa ab aa"), (1, "aa")], "doc_id long, text string"
    )
    rows = bpe_learn_merges(docs, n_merges=5).collect()
    # words: "aa" x3, "ab" x1 -> (a,a):3 wins, then (a,b):1, then done
    assert [(r["left"], r["right"], r["pair_count"]) for r in rows] == [
        ("a", "a", 3),
        ("a", "b", 1),
    ]
    assert rows[0]["merged"] == "aa" and rows[1]["merged"] == "ab"


def test_bpe_greedy_left_to_right_and_tiebreak(spark):
    """'aaa' under merge (a,a): greedy scan merges the FIRST pair only
    -> [aa, a]; next round (aa,a) ties with nothing and wins; ties
    between equal-count pairs go to the lexicographically smallest."""
    from near_event_streams_spark.operators.text import bpe_learn_merges

    docs = spark.createDataFrame([(0, "aaa")], "doc_id long, text string")
    rows = bpe_learn_merges(docs, n_merges=3).collect()
    # round 1: pairs of 'aaa' = (a,a) twice -> cnt 2
    assert (rows[0]["left"], rows[0]["right"], rows[0]["pair_count"]) == (
        "a", "a", 2,
    )
    # after greedy apply: [aa, a] -> round 2 best is (aa, a) cnt 1
    assert (rows[1]["left"], rows[1]["right"], rows[1]["pair_count"]) == (
        "aa", "a", 1,
    )
    assert len(rows) == 2  # single symbol left; loop drains

    tie = spark.createDataFrame(
        [(0, "xy ab")], "doc_id long, text string"
    )
    t = bpe_learn_merges(tie, n_merges=1).collect()
    # (a,b) and (x,y) both count 1: lexicographic tie-break -> (a,b)
    assert (t[0]["left"], t[0]["right"]) == ("a", "b")


def _ref_bpe(texts, n_merges):
    """Driver-side Sennrich et al. 2016 reference: ~20 lines, no Spark.
    Same tokenizer regex, freq-weighted pair counts, lexicographic
    tie-break, greedy left-to-right merge application."""
    import collections
    import re

    words = collections.Counter(
        w for t in texts for w in re.findall(r"[a-z]+|[0-9]+", t.lower())
    )
    vocab = collections.Counter()
    for w, f in words.items():
        vocab[tuple(w)] += f
    out = []
    for it in range(1, n_merges + 1):
        pairs = collections.Counter()
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (l, r), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((it, l, r, l + r, cnt))
        nxt = collections.Counter()
        for sym, f in vocab.items():
            res = []
            for s in sym:
                if res and res[-1] == l and s == r:
                    res[-1] = l + r
                else:
                    res.append(s)
            nxt[tuple(res)] += f
        vocab = nxt
    return out


def test_bpe_apply_counts_planted(spark):
    """Encode with a hand-checked merge table: 'aa' collapses to one
    symbol via (a,a)->aa; 'ab' to one via (a,b)->ab; 'ba' stays two
    chars (no merge matches). Train->apply round trip on the same
    corpus agrees with the trainer's own word table."""
    from near_event_streams_spark.operators.text import (
        bpe_apply_counts,
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(0, "aa ab aa"), (1, "ba aa")], "doc_id long, text string"
    )
    merges = [
        (r["left"], r["right"], r["merged"])
        for r in bpe_learn_merges(docs, n_merges=5).collect()
    ]
    assert [(m[0], m[1]) for m in merges] == [
        ("a", "a"), ("a", "b"), ("b", "a"),
    ]
    out = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in bpe_apply_counts(docs, merges).collect()
    }
    # all three words collapse to single symbols under their merges
    assert out == {0: (3, 6, 3), 1: (2, 4, 2)}, out
    # applying only the FIRST two merges leaves 'ba' as two symbols
    out2 = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply_counts(docs, merges[:2]).collect()
    }
    assert out2 == {0: 3, 1: 3}, out2


def test_bpe_matches_pure_python_sennrich_reference(spark):
    """Train the same 8 merges with the distributed operator and the
    driver-side reference on a seeded random corpus; assert sequence
    equality — pins the semantics independently of the DuckDB oracle
    (mirrors test_interval_overlap_randomized_equivalence)."""
    import random

    from near_event_streams_spark.operators.text import bpe_learn_merges

    rng = random.Random(6)
    alphabet = "abcdegor"
    docs = [
        (
            i,
            " ".join(
                "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(1, 7))
                )
                for _ in range(rng.randint(3, 12))
            ),
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [tuple(r) for r in bpe_learn_merges(df, n_merges=8).collect()]
    want = _ref_bpe([t for _, t in docs], 8)
    assert got == want


def test_resize_nearest_known_pixels(spark):
    """2x2 -> 1x1 nearest-neighbor must select exactly the top-left
    pixel (y*h//1? no: y=0,x=0 -> source (0,0)); 2x2 -> 4x4 upsamples
    each source pixel into a 2x2 block. Undecodable payloads keep
    their row with decoded=False."""
    from near_event_streams_spark.operators import multimodal

    # P3 2x2: pixels (0,0)=[1,2,3] (1,0)=[4,5,6] (0,1)=[7,8,9] (1,1)=[10,11,12]
    ppm = "P3\n2 2\n255\n1 2 3 4 5 6 7 8 9 10 11 12"
    rows = [(1, ppm), (2, "not an image")]
    media = multimodal.as_media_table(
        spark.createDataFrame(rows, "id long, payload string"),
        id_col="id",
        payload_col="payload",
    )
    down = {
        r["media_id"]: r
        for r in multimodal.resize_nearest(media, 1, 1).collect()
    }
    assert down[1]["decoded"] and down[1]["src_w"] == 2
    # 1x1 output samples source pixel (0,0) = [1,2,3] -> mean 2.0
    assert down[1]["resized_mean"] == 2.0
    ck = 0
    for b in (1, 2, 3):
        ck = (ck * 131 + b) % 1_000_000_007
    assert down[1]["resized_checksum"] == ck
    assert down[2]["decoded"] is False
    assert down[2]["resized_mean"] is None

    up = {
        r["media_id"]: r
        for r in multimodal.resize_nearest(media, 4, 4).collect()
    }
    # upsample 2x2->4x4: each source pixel covers a 2x2 block; mean is
    # unchanged from the source mean (each pixel weighted equally)
    assert up[1]["resized_mean"] == 6.5


def test_sample_video_frames_stride_and_tail(spark):
    """Every-2nd-frame sampling; a trailing partial frame (payload not
    a multiple of frame_bytes) is ignored, not mis-sliced."""
    from near_event_streams_spark.operators import multimodal

    # 3 full 4-byte frames + 2 stray bytes, printable ASCII
    payload = "AAAA" + "BBBB" + "CCCC" + "zz"
    media = multimodal.as_media_table(
        spark.createDataFrame([(7, payload)], "id long, payload string"),
        id_col="id",
        payload_col="payload",
    )
    rows = multimodal.sample_video_frames(
        media, frame_bytes=4, every_k=2
    ).collect()
    got = {(r["frame_idx"]): r for r in rows}
    assert set(got) == {0, 2}
    assert all(r["n_frames"] == 3 for r in rows)
    assert got[0]["frame_mean"] == float(ord("A"))
    assert got[2]["frame_mean"] == float(ord("C"))


def test_kmeans_fixedpoint_matches_python_reference_random(spark):
    """Seeded random float vectors: the DataFrame superstep loop must
    equal a driver-side fixed-point Lloyd replay (same quantization,
    same integer means, same (dist, cluster) tie-break) assignment-for-
    assignment — pins the arithmetic, not just the clustering."""
    import math
    import random

    from near_event_streams_spark.operators.similarity import (
        kmeans_lloyd_fixedpoint,
    )

    def ref(vecs, k, iters, scale=10**6, offset=10**6):
        u = {
            i: [int(math.floor(float(x) * scale)) + offset for x in v]
            for i, v in vecs
        }
        ids = sorted(u)
        cent = {c: u[ids[c]] for c in range(min(k, len(ids)))}
        assign = {}
        for it in range(iters):
            assign = {}
            for i in ids:
                best = min(
                    cent.items(),
                    key=lambda kv: (
                        sum((a - b) * (a - b) for a, b in zip(u[i], kv[1])),
                        kv[0],
                    ),
                )
                d = sum((a - b) * (a - b) for a, b in zip(u[i], best[1]))
                assign[i] = (best[0], d)
            if it == iters - 1:
                break
            nxt = {}
            for c in set(c for c, _ in assign.values()):
                members = [u[i] for i in ids if assign[i][0] == c]
                nxt[c] = [
                    sum(col) // len(members) for col in zip(*members)
                ]
            cent = nxt
        return assign

    for seed in (5, 29):
        rng = random.Random(seed)
        dim = rng.randint(2, 6)
        vecs = [
            (i, [rng.uniform(-0.9, 0.9) for _ in range(dim)])
            for i in range(rng.randint(12, 30))
        ]
        # float32 round-trip: Spark reads array<float>, so quantize the
        # reference from the SAME float32 values
        import struct

        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        vecs32 = [(i, [f32(x) for x in v]) for i, v in vecs]
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>"
        )
        got = {
            r["vec_id"]: (r["cluster"], r["dist_units"])
            for r in kmeans_lloyd_fixedpoint(df, k=4, iters=3).collect()
        }
        assert got == ref(vecs32, 4, 3), f"seed={seed}"


def test_bpe_apply_oracle_degrades_on_exhausted_corpus(spark):
    """A corpus that exhausts before 8 merges must NOT collapse the
    oracle's encode chain to zero rows: each av stage LEFT-JOINs its
    (possibly empty) best-pair CTE and coalesces symbols through, so
    oracle and Spark agree on degenerate corpora too (r6 ADVICE)."""
    import duckdb

    from near_event_streams_spark.operators.text import (
        bpe_apply_counts,
        bpe_learn_merges,
    )
    from near_event_streams_spark.plans.llm_ops import (
        _bpe_apply_tail,
        _bpe_oracle_sql,
    )

    rows = [(0, "ab ab"), (1, "ab a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r["left"], r["right"], r["merged"])
        for r in bpe_learn_merges(docs, n_merges=8).collect()
    ]
    assert len(merges) < 8  # genuinely exhausted
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in bpe_apply_counts(docs, merges).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    sql = _bpe_oracle_sql(8, tail=_bpe_apply_tail(8))
    want = {
        r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()
    }
    assert want, "oracle collapsed to zero rows on exhausted corpus"
    assert got == want, (got, want)
