"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Design for 100 TB multimodal corpora:

* media lives in **BinaryType** columns (or object-store URIs); metadata
  (format, dims, duration) in sibling typed columns.
* decode / feature-extract / resize / frame-sample run as **Arrow-batched
  ``mapInPandas``** — one Python worker per partition, whole column batches
  across the boundary, bounded memory via ``maxRecordsPerBatch``.
* decode is real for the dependency-free raster formats (uncompressed
  24-bit **BMP** and binary/ASCII **PPM** — ``decode_image``): header
  parse → (width, height) + mean pixel value over the raster. Formats
  that need a codec library (PNG/JPEG — absent in this container) fall
  back to deterministic byte statistics (``byte_stat_features``), so
  every payload gets a feature row and the fallback is SQL-expressible
  for the correctness oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", LongType()),
        StructField("decoded", BooleanType()),
        StructField("mean_pixel", DoubleType()),
    ]
)

_MAGIC = {
    "89504e47": "image/png",
    "ffd8ffe0": "image/jpeg",
    "52494646": "audio/wav",
    "00000018": "video/mp4",
    "424d": "image/bmp",
    "5036": "image/x-portable-pixmap",
    "5033": "image/x-portable-pixmap",
}


def as_media_table(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "text"
) -> DataFrame:
    """Wrap any column as an opaque binary payload with sniffed metadata.

    In production the payload comes from ``spark.read.format("binaryFile")``
    or a parquet BinaryType column; here the documents table stands in.
    """
    payload = F.encode(F.col(payload_col), "UTF-8")
    magic = F.lower(F.hex(F.substring(F.col(payload_col), 1, 4)))
    media_type = F.lit("application/octet-stream")
    for sig, mtype in _MAGIC.items():
        media_type = F.when(magic.startswith(sig), F.lit(mtype)).otherwise(
            media_type
        )
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        media_type.alias("media_type"),
        F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
        magic.alias("magic_hex"),
    )


def decode_bmp(payload: bytes) -> tuple[int, int, float]:
    """Decode an uncompressed 24-bit Windows BMP (BITMAPINFOHEADER).

    Pure struct parsing — no codec library. Returns
    ``(width, height, mean_pixel)`` where ``mean_pixel`` averages every
    channel byte of the raster (rows are bottom-up and padded to 4-byte
    boundaries; padding is excluded from the mean).
    """
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    height = abs(height)
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    total = 0
    for r in range(height):
        row = payload[pixel_offset + r * stride :][:row_bytes]
        if len(row) < row_bytes:
            raise ValueError("truncated BMP raster")
        total += sum(row)
    n_px_bytes = row_bytes * height
    mean = round(total / n_px_bytes, 6) if n_px_bytes else 0.0
    return width, height, mean


def decode_ppm(payload: bytes) -> tuple[int, int, float]:
    """Decode a PPM image — binary ``P6`` or ASCII ``P3``, maxval ≤ 255.

    Netpbm headers are whitespace-delimited with ``#`` comments.
    Returns ``(width, height, mean_pixel)`` over all RGB samples.
    """
    if payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    binary = payload[:2] == b"P6"

    # header tokenizer: magic, width, height, maxval (skipping comments)
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    n_samples = width * height * 3
    if binary:
        raster = payload[i + 1 : i + 1 + n_samples]  # single ws after maxval
        if len(raster) < n_samples:
            raise ValueError("truncated PPM raster")
        total = sum(raster)
    else:
        vals = payload[i:].split()
        if len(vals) < n_samples:
            raise ValueError("truncated PPM raster")
        total = sum(int(v) for v in vals[:n_samples])
    mean = round(total / n_samples, 6) if n_samples else 0.0
    return width, height, mean


def decode_image(payload: bytes) -> tuple[int, int, float]:
    """Decode a raster payload to ``(width, height, mean_pixel)``.

    Real decode for the dependency-free formats (24-bit BMP, P6/P3 PPM).
    PNG/JPEG need a codec library this container doesn't ship — those
    raise ``ValueError`` and callers fall back to
    :func:`byte_stat_features`.
    """
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] in (b"P6", b"P3"):
        return decode_ppm(payload)
    raise ValueError("no dependency-free decoder for this format")


def byte_stat_features(payload: bytes) -> tuple[int, int, int]:
    """Deterministic byte statistics for undecodable payloads:
    ``(pseudo_width, pseudo_height, checksum)`` with a polynomial rolling
    checksum (base 131, mod 1e9+7) — chosen because the identical fold is
    expressible in ANSI-ish SQL (``list_reduce`` over the hex-pair bytes)
    so the correctness oracle can replay it."""
    n = len(payload)
    checksum = 0
    for b in payload:
        checksum = (checksum * 131 + b) % 1_000_000_007
    return (n % 64) + 1, (n % 48) + 1, checksum


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Per payload: the dependency-free raster decode (BMP/PPM → true
    dimensions + mean pixel, ``decoded=True``); otherwise fall back to
    deterministic byte statistics (``decoded=False``,
    ``mean_pixel=NULL``). Both paths share the plan, partitioning,
    schema and batch shape.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    def _one(p: bytes) -> tuple[int, int, int | None, bool, float | None]:
        try:
            w, h, mean = decode_image(p)
        except ValueError:
            w, h, checksum = byte_stat_features(p)
            return w, h, checksum, False, None
        return w, h, None, True, mean

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": pd.Series(
                        [f[0] for f in feats], dtype="int32"
                    ),
                    "height": pd.Series(
                        [f[1] for f in feats], dtype="int32"
                    ),
                    "checksum": pd.Series(
                        [f[2] for f in feats], dtype="Int64"
                    ),
                    "decoded": [f[3] for f in feats],
                    # nullable Float64: plain float64 would turn None
                    # into NaN, which Arrow ships as NaN, not SQL NULL
                    "mean_pixel": pd.Series(
                        [f[4] for f in feats], dtype="Float64"
                    ),
                }
            )

    return media.mapInPandas(_run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("src_w", IntegerType()),
        StructField("src_h", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("decoded", BooleanType()),
        StructField("resized_mean", DoubleType()),
        StructField("resized_checksum", LongType()),
    ]
)


def decode_ppm_samples(payload: bytes) -> tuple[int, int, list[int]]:
    """Full-sample PPM decode: ``(width, height, samples)`` with the
    RGB samples in row-major (y, x, channel) order — the pixel access
    :func:`resize_nearest` needs (``decode_ppm`` only summarizes)."""
    if payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    binary = payload[:2] == b"P6"
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    if width < 1 or height < 1:
        # a syntactically valid 'P3\n0 0\n255\n' header would otherwise
        # "decode" to an empty raster and crash downstream pixel
        # samplers mid-task with an uncaught unpack error (r10 advisory)
        raise ValueError(f"degenerate PPM dimensions {width}x{height}")
    n_samples = width * height * 3
    if binary:
        raster = payload[i + 1 : i + 1 + n_samples]
        if len(raster) < n_samples:
            raise ValueError("truncated PPM raster")
        samples = list(raster)
    else:
        vals = payload[i:].split()
        if len(vals) < n_samples:
            raise ValueError("truncated PPM raster")
        samples = [int(v) for v in vals[:n_samples]]
    return width, height, samples


def resize_nearest(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor raster resize over the binary column —
    the thumbnail/normalization step of a multimodal pipeline, as an
    Arrow-batched ``mapInPandas`` over the dependency-free PPM pixel
    access. For each output pixel ``(y, x)`` the source pixel
    is ``(y·src_h//out_h, x·src_w//out_w)``; emits the resized
    raster's mean and a base-131 rolling checksum of the sampled bytes
    so an oracle can replay the exact pixel selection. Payloads that
    do not decode as PPM pass through with ``decoded=False``.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    def _one(p) -> tuple:
        try:
            w, h, vals = decode_ppm_samples(bytes(p))
        except ValueError:
            return None, None, False, None, None
        sampled: list[int] = []
        for y in range(out_h):
            sy = y * h // out_h
            for x in range(out_w):
                sx = x * w // out_w
                base = (sy * w + sx) * 3
                sampled.extend(vals[base : base + 3])
        ck = 0
        for b in sampled:
            ck = (ck * 131 + b) % 1_000_000_007
        mean = round(sum(sampled) / len(sampled), 6)
        return w, h, True, mean, ck

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            res = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "src_w": pd.Series([r[0] for r in res], dtype="Int32"),
                    "src_h": pd.Series([r[1] for r in res], dtype="Int32"),
                    "out_w": pd.Series([out_w] * len(res), dtype="int32"),
                    "out_h": pd.Series([out_h] * len(res), dtype="int32"),
                    "decoded": [r[2] for r in res],
                    "resized_mean": pd.Series(
                        [r[3] for r in res], dtype="Float64"
                    ),
                    "resized_checksum": pd.Series(
                        [r[4] for r in res], dtype="Int64"
                    ),
                }
            )

    return media.mapInPandas(_run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("frame_mean", DoubleType()),
    ]
)


def sample_video_frames(
    media: DataFrame, frame_bytes: int, every_k: int
) -> DataFrame:
    """Frame sampling over an opaque video-like payload: the payload is
    a concatenation of fixed-size frames (raw grayscale here; with a
    container codec the slicing becomes an ffmpeg call and the
    ``mapInPandas`` shape/schema stay identical); every ``every_k``-th
    frame is emitted as its own row with the frame's byte mean. The
    per-payload fan-out is ``n_frames/every_k`` rows — frame sampling
    IS the scale knob that keeps video corpora tractable.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, totals, means = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                n = len(b) // frame_bytes
                for fi in range(0, n, every_k):
                    fr = b[fi * frame_bytes : (fi + 1) * frame_bytes]
                    ids.append(mid)
                    idxs.append(fi)
                    totals.append(n)
                    means.append(round(sum(fr) / frame_bytes, 6))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_frames": pd.Series(totals, dtype="int32"),
                    "frame_mean": pd.Series(means, dtype="float64"),
                }
            )

    return media.mapInPandas(_run, schema=FRAME_SCHEMA)


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("decoded", BooleanType()),
        # the 64-bit dHash as 8 row-bytes (one per luma-grid row) —
        # band-shaped on purpose: the near-dup join buckets on
        # (band_idx, band_value), so the hash layout IS the LSH banding
        StructField("bands", ArrayType(IntegerType())),
    ]
)


def dhash_images(
    media: DataFrame,
    grid_w: int = 8,
    grid_h: int = 8,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual difference-hash (dHash) over the binary image column —
    the standard image-near-dedup fingerprint for a multimodal training
    corpus: decode → nearest-neighbor sample a ``grid_h × (grid_w+1)``
    luma grid → one bit per adjacent-pixel comparison (is the right
    neighbor brighter?) → ``grid_h`` bands of ``grid_w`` bits. Robust to
    uniform brightness shifts and resizes by construction (only
    DIFFERENCES of luma matter), which is exactly what re-encoded /
    brightness-tweaked duplicate images change.

    Runs as one Arrow-batched ``mapInPandas`` pass (same plumbing as
    :func:`extract_features`) over the dependency-free PPM pixel
    access. Luma uses the integer Rec.601 approximation
    ``(299·R + 587·G + 114·B) // 1000`` so the hash is engine-replayable
    with no float in sight. Payloads that do not decode as PPM pass
    through with ``decoded=False`` and NULL bands: one malformed payload
    must never fail the task and wedge a 24/7 ingest stream (r10
    advisory).

    ``id_col``/``payload_col`` name the input columns; the output id
    column is always NAMED ``media_id`` but keeps the INPUT column's
    type (``DHASH_SCHEMA`` pins the long-id default; a string-keyed
    corpus gets a string ``media_id`` — pinning long here would make
    the Arrow transfer fail at runtime for non-integral ids). Note the
    registry-ingest path (``streaming/ingest.register_batch_image_
    neardup``) stores ids as long ``doc_id`` and so still requires
    integral ids.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    def _one(p) -> tuple:
        try:
            w, h, vals = decode_ppm_samples(bytes(p))
            bands: list[int] = []
            for gy in range(grid_h):
                sy = gy * h // grid_h
                row: list[int] = []
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
        except ValueError:
            return None, None, False, None
        return w, h, True, bands

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            res = [_one(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "width": pd.Series([r[0] for r in res], dtype="Int32"),
                    "height": pd.Series([r[1] for r in res], dtype="Int32"),
                    "decoded": [r[2] for r in res],
                    "bands": [r[3] for r in res],
                }
            )

    out_schema = StructType(
        [StructField("media_id", media.schema[id_col].dataType)]
        + DHASH_SCHEMA.fields[1:]
    )
    return media.select(id_col, payload_col).mapInPandas(
        _run, schema=out_schema
    )


def neardup_image_pairs(
    hashed: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs from dHash bands — bucketed, never
    all-pairs: each hash is ``n_bands`` bytes; two hashes within
    Hamming distance ``max_hamming < n_bands`` must agree on at least
    one whole band (pigeonhole — each differing bit corrupts exactly
    one band), so the band-bucket join is EXACT for this threshold, not
    probabilistic: recall 1.0 by construction, same guarantee shape as
    the MinHash banding in ``dedup.py`` but deterministic.

    Plan: posexplode bands → self-join on ``(band_idx, band_value)``
    (candidates only from shared buckets, both sides carrying their
    n_bands-byte hash) → Hamming verify via ``zip_with(bit_count(xor))``
    on the two band arrays (JVM codegen, no Python, in the collision
    stream itself) → distinct verified ``a < b`` pairs. At 100 TB the
    candidate volume is governed by bucket occupancy, exactly like
    every banded-LSH family here; a degenerate band value (e.g.
    all-zero bytes from flat images) is the skew knob to watch.

    ``max_bucket`` is that knob: buckets holding more than ``max_bucket``
    hashes are DROPPED from candidate generation (one count aggregate +
    window over the exploded bands — no skewed join ever runs). This
    trades the completeness guarantee for bounded per-bucket work: a
    pair is missed only if EVERY band it agrees on is saturated, which
    for near-dup content means a monoculture bucket (millions of flat/
    black frames) whose pairs are degenerate anyway — the standard
    banded-LSH production mitigation. Default None keeps the exact
    guarantee.

    Returns ``(a_id, b_id, hamming)`` for verified pairs.
    """
    assert 0 <= max_hamming < n_bands, (max_hamming, n_bands)
    # r17: persist the decoded hashes — both sides of the band-bucket
    # self-join (and, formerly, two verify joins) consume this frame,
    # and without the cache every consumer re-ran the full decode+dHash
    # mapInPandas pass over the payload column (3× the Python-boundary
    # cost for one logical pass — guide §4/§8: decode once). Persist
    # handle is caller-owned (clearCache), the jaccard_pairs contract.
    hs = (
        hashed.filter(F.col("decoded"))
        .select("media_id", "bands")
        .persist()
    )
    ex = hs.select(
        "media_id",
        "bands",
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("band_idx", "band_val")
        ex = (
            ex.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    # the 8-byte hash rides THROUGH the bucket join (it IS the decision
    # data — a fixed n_bands-byte array, not a payload), so the Hamming
    # verify is a codegen filter on the collision stream itself: the
    # former (a_id, b_id) distinct + two hash-fetch joins are gone
    # (r17; guide §2.4 — the re-attach joins were a second and third
    # pass over the hash table for bytes the join already held)
    a = ex.select(
        F.col("media_id").alias("a_id"),
        F.col("bands").alias("a_bands"),
        "band_idx",
        "band_val",
    )
    b = ex.select(
        F.col("media_id").alias("b_id"),
        F.col("bands").alias("b_bands"),
        "band_idx",
        "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            hamming_distance(
                F.col("a_bands"), F.col("b_bands"), n_bands=n_bands
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_distance(a_bands, b_bands, n_bands: int | None = None):
    """Hamming distance between two band-array hashes, no Python in
    the verify path.

    When ``n_bands`` is known (every dedup call site: the hash width
    is a construction constant), the sum is STATICALLY UNROLLED into
    ``bit_count(a[1]^b[1]) + … + bit_count(a[n]^b[n])`` — a flat
    whole-stage-codegen expression. The generic ``zip_with`` +
    ``aggregate`` fallback (``n_bands=None``) is evaluated through
    Spark's INTERPRETED higher-order-function path (lambda variables
    block codegen), which profiled ~30× slower per row on the sf0.1
    collision stream (r17: the 3.8M-row band join spent ~4 s in the
    fold vs ~0.3 s unrolled — guide §1.2 per-task work)."""
    if n_bands is not None:
        terms = [
            F.bit_count(
                F.element_at(a_bands, j).bitwiseXOR(
                    F.element_at(b_bands, j)
                )
            )
            for j in range(1, n_bands + 1)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(
            a_bands,
            b_bands,
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")
