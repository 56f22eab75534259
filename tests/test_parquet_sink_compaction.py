"""The batch-dir compaction machinery (`sinks/parquet_sink.py`) — the
r13 review fixes, each pinned:

* the in-place fold SKIPS dirs already at/above the target size (the
  previous cycle's merged output re-merged every cycle = quadratic
  lifetime write amplification on a 24/7 stream);
* the Z-order scale survives column spans past the old LONG-product
  overflow point (~2^47 at bits=16 — nanosecond epochs, snowflake ids).
"""

import glob

from pyspark.sql import functions as F

from near_event_streams_spark.sinks.parquet_sink import (
    _hadoop_fs,
    compact_batch_dirs_inplace,
    zorder_key,
)


def _write_batches(spark, out, sizes, noise=False):
    """One batch_id dir per entry; entry = rows in that batch. ``noise``
    adds a per-row sha256 column, which parquet cannot compress away."""
    for bid, n in sizes.items():
        k = F.col("id") + bid * 1_000_000
        extra = [F.sha2(k.cast("string"), 256).alias("noise")] if noise else []
        (
            spark.range(n)
            .select(
                k.alias("k"),
                F.lit("x" * 64).alias("pad"),
                *extra,
                F.lit(bid).alias("batch_id"),
            )
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(out)
        )


def test_inplace_fold_skips_already_compacted_dirs(spark, tmp_path):
    """A dir at/above target_file_bytes must NOT be re-read and
    re-written by later cycles — only the new small dirs merge."""
    out = str(tmp_path / "corpus")
    target = 20 * 1024
    _write_batches(spark, out, {0: 2000, 1: 5, 2: 5, 3: 5}, noise=True)
    # batch 0 (2000 rows of 64 hex chars each) is well above a 20 KB
    # target; 1 and 2 are tiny and closed; 3 is the open max batch.
    # Measured the way the fold measures it.
    fs, mk_path = _hadoop_fs(spark, out)
    on_disk = {
        bid: fs.getContentSummary(mk_path(f"{out}/batch_id={bid}")).getLength()
        for bid in range(4)
    }
    assert on_disk[0] >= target, on_disk
    assert all(on_disk[bid] < target for bid in (1, 2, 3)), on_disk
    n_merged, _ = compact_batch_dirs_inplace(
        spark, out, target_file_bytes=target
    )
    assert n_merged == 2  # only batches 1 and 2 — 0 skipped, 3 open
    dirs = sorted(
        d.rsplit("=", 1)[1] for d in glob.glob(f"{out}/batch_id=*")
    )
    assert dirs == ["0", "2", "3"]  # merged landed at hi=2
    total = spark.read.parquet(out).count()
    assert total == 2015  # nothing lost, nothing duplicated
    # a second cycle finds <2 small closed dirs -> no-op
    assert compact_batch_dirs_inplace(
        spark, out, target_file_bytes=target
    ) == (0, 0)


def test_zorder_key_survives_wide_spans(spark):
    """(c - lo) * 65535 in LONG wraps once the span passes ~2^47; the
    double-path scale must keep every key in [0, 4^bits) and keep the
    endpoints at the corners for a nanosecond-epoch-sized span."""
    lo, hi = 0, 1 << 55
    df = spark.createDataFrame(
        [(lo,), (hi // 2,), (hi,)], "v long"
    ).select(
        zorder_key(
            F.col("v"), F.col("v"), (lo, hi), (lo, hi), bits=16
        ).alias("z")
    )
    zs = [r["z"] for r in df.collect()]
    top = (1 << 32) - 1  # both 16-bit words fully set, interleaved
    assert all(0 <= z <= top for z in zs), zs
    assert zs[0] == 0
    assert zs[2] == top  # x=y=65535 -> every bit of the 32-bit key
    assert 0 < zs[1] < top
